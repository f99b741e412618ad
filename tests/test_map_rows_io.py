"""map_rows (reference core.py:2207) and nested parquet I/O
(reference io.py:36-212) tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nested_pandas_spark import NestedFrame, read_parquet
from nested_pandas_spark.plans.inspect import find_nodes


def test_map_rows_scalar_output(packed):
    out = packed.map_rows(
        lambda a, flux: float(np.mean(flux) + a),
        columns=["a", "nested.flux"],
        output_names=["score"],
        append_columns=True,
    )
    rows = {r["id"]: r["score"] for r in out.collect()}
    assert rows[0] == pytest.approx(1.0 + 0.1)
    assert rows[2] == pytest.approx(21.0 + 0.9)


def test_map_rows_multi_output(packed):
    def amplitude(flux):
        return float(np.max(flux) - np.min(flux)), float(np.mean(flux))

    out = packed.map_rows(
        amplitude, columns=["nested.flux"], output_names=["amp", "mean_flux"],
        append_columns=True,
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["amp"] == pytest.approx(2.0)
    assert rows[1]["mean_flux"] == pytest.approx(11.0)


def test_map_rows_dict_container(packed):
    out = packed.map_rows(
        lambda row: float(np.sum(row["nested.flux"])),
        columns=["nested.flux"],
        row_container="dict",
        output_names=["total"],
        append_columns=True,
    )
    rows = {r["id"]: r["total"] for r in out.collect()}
    assert rows[0] == pytest.approx(3.0)


def test_map_rows_infer_nesting(packed):
    def normalize(flux):
        m = np.mean(flux)
        return (flux - m, flux * 0 + m)

    out = packed.map_rows(
        normalize,
        columns=["nested.flux"],
        output_names=["res.centered", "res.mean"],
        append_columns=True,
    )
    assert "res" in out.nested_columns
    rows = {r["id"]: r["res"] for r in out.collect()}
    assert [e["centered"] for e in rows[0]] == pytest.approx([-1.0, 0.0, 1.0])


def test_map_rows_array_output(packed):
    out = packed.map_rows(
        lambda t: (t * 2).tolist(),
        columns=["nested.t"],
        output_names=["t2"],
        append_columns=True,
    )
    row = {r["id"]: r["t2"] for r in out.collect()}
    assert row[0] == [0.0, 2.0, 4.0]


def test_parquet_roundtrip(tmp_path, packed):
    p = str(tmp_path / "packed.parquet")
    packed.to_parquet(p)
    spark = packed.df.sparkSession
    back = NestedFrame(read_parquet(spark, p))
    assert sorted(back.columns) == sorted(packed.columns)
    assert back.count() == 3
    assert set(back.nested_fields("nested")) == set(packed.nested_fields("nested"))


def test_read_parquet_dotted_columns(tmp_path, packed):
    p = str(tmp_path / "packed2.parquet")
    packed.to_parquet(p)
    spark = packed.df.sparkSession
    out = read_parquet(spark, p, columns=["id", "nested.flux"])
    assert out.columns == ["id", "nested"]
    ndf = NestedFrame(out)
    assert ndf.nested_fields("nested") == ["flux"]


def test_read_struct_of_lists_autocast(tmp_path, spark):
    """nested-pandas writes struct-of-lists parquet; we must auto-cast."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "id": pa.array([0, 1], pa.int64()),
            "nested": pa.array(
                [{"t": [1.0, 2.0], "flux": [5.0, 6.0]}, {"t": [3.0], "flux": [7.0]}],
                pa.struct({"t": pa.list_(pa.float64()), "flux": pa.list_(pa.float64())}),
            ),
        }
    )
    p = str(tmp_path / "sol.parquet")
    pq.write_table(tbl, p)
    out = NestedFrame(read_parquet(spark, p))
    assert out.nested_columns == ["nested"]
    rows = {r["id"]: r["nested"] for r in out.collect()}
    assert [e["t"] for e in rows[0]] == [1.0, 2.0]
    assert [e["flux"] for e in rows[1]] == [7.0]


def test_generate_data(spark):
    from nested_pandas_spark.datasets import generate_data

    df = generate_data(spark, n_base=5, n_layer=4, seed=1)
    ndf = NestedFrame(df)
    assert ndf.count() == 5
    assert ndf.nested_columns == ["nested"]
    assert all(len(r["nested"]) == 4 for r in ndf.collect())


def test_read_json_nested(tmp_path, spark):
    from nested_pandas_spark.nestedframe.io import read_json

    p = tmp_path / "d.jsonl"
    p.write_text(
        '{"id": 1, "nested": [{"t": 1.0, "b": "x"}, {"t": 2.0, "b": "y"}]}\n'
        '{"id": 2, "nested": []}\n'
    )
    df = read_json(spark, str(p),
                   schema="id bigint, nested array<struct<t double, b string>>")
    ndf = NestedFrame(df)
    assert ndf.nested_columns == ["nested"]
    rows = {r["id"]: r["nested"] for r in ndf.collect()}
    assert [e["t"] for e in rows[1]] == [1.0, 2.0]


def test_write_parquet_partitioned(tmp_path, spark, packed):
    from nested_pandas_spark.nestedframe.io import write_parquet

    out = str(tmp_path / "part")
    write_parquet(packed.df.withColumn("bucket", packed.df.id % 2), out,
                  partition_by="bucket")
    import os

    assert any(d.startswith("bucket=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    assert back.count() == 3


def test_map_batches(packed):
    from nested_pandas_spark.operators.map_rows import map_batches
    import pandas as pd

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"id": pdf["id"], "n": [len(x) for x in pdf["nested"]]})

    out = map_batches(packed.df, f, "id long, n long")
    assert {r["id"]: r["n"] for r in out.collect()} == {0: 3, 1: 3, 2: 3}


def test_read_parquet_reject_nesting(tmp_path, spark):
    """reject_nesting keeps a struct-of-lists column raw (reference
    test_io.py:138)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T
    from nested_pandas_spark import read_parquet

    tbl = pa.table(
        {
            "id": pa.array([0], pa.int64()),
            "sol": pa.array(
                [{"t": [1.0], "f": [2.0]}],
                pa.struct({"t": pa.list_(pa.float64()), "f": pa.list_(pa.float64())}),
            ),
        }
    )
    p = str(tmp_path / "rej.parquet")
    pq.write_table(tbl, p)
    auto = read_parquet(spark, p)
    assert isinstance(auto.schema["sol"].dataType, T.ArrayType)  # autocast on
    raw = read_parquet(spark, p, reject_nesting="sol")
    assert isinstance(raw.schema["sol"].dataType, T.StructType)  # kept raw


def test_double_nested_parquet_roundtrip(tmp_path, spark, objects, sources):
    """F7: a doubly-nested column survives a parquet round trip."""
    inner = NestedFrame(objects).join_nested(sources, "inner_n", on="id")
    grouped = NestedFrame(
        spark.createDataFrame([(1,)], "g int")
    ).join_nested(inner.df.withColumn("g", F.lit(1)), "outer_n", on="g")
    p = str(tmp_path / "double.parquet")
    grouped.to_parquet(p)
    back = NestedFrame(spark.read.parquet(p))
    assert "outer_n" in back.nested_columns
    flat = back.to_flatten_inner("outer_n", "inner_n")
    assert len(flat.collect()[0]["outer_n"]) == 9


def test_numpy_reducer_routes_to_hof(spark, packed):
    import numpy as np
    from pyspark.sql import functions as F

    out = packed.map_rows(np.mean, columns=["nested.flux"], output_names=["m"],
                          append_columns=True)
    assert not find_nodes(out.df, "MapInPandas")  # pure JVM higher-order function
    got = {r["id"]: r["m"] for r in out.df.collect()}
    # UDF path on the same input must agree
    udf = packed.map_rows(
        lambda a: float(np.mean(a)), columns=["nested.flux"],
        output_names=["m"], output_schema="m double", append_columns=True)
    want = {r["id"]: r["m"] for r in udf.df.collect()}
    assert got == pytest.approx(want)


def test_numpy_reducer_empty_and_null_cells(spark):
    import math

    import numpy as np

    from nested_pandas_spark import NestedFrame

    df = spark.createDataFrame(
        [(0, [1.0, 3.0]), (1, []), (2, None)],
        "id long, vals array<double>",
    )
    ndf = NestedFrame(df.withColumn(
        "nested", F.expr("transform(vals, v -> struct(v AS flux))")).drop("vals"))
    mean = {r["id"]: r["m"] for r in ndf.map_rows(
        np.mean, ["nested.flux"], output_names=["m"], append_columns=True
    ).df.collect()}
    assert mean[0] == 2.0
    assert math.isnan(mean[1])  # np.mean([]) -> NaN
    assert mean[2] is None      # missing cell -> NULL
    total = {r["id"]: r["s"] for r in ndf.map_rows(
        np.sum, ["nested.flux"], output_names=["s"], append_columns=True
    ).df.collect()}
    assert total[0] == 4.0 and total[1] == 0.0 and total[2] is None
    mx = {r["id"]: r["x"] for r in ndf.map_rows(
        np.max, ["nested.flux"], output_names=["x"], append_columns=True
    ).df.collect()}
    assert mx[0] == 3.0 and mx[1] is None and mx[2] is None


def test_to_parquet_partition_by_prunes(tmp_path, packed):
    p = str(tmp_path / "partitioned.parquet")
    packed.to_parquet(p, partition_by="id")
    spark = packed.df.sparkSession
    back = read_parquet(spark, p).where("id = 1")
    assert any("id" in n.meta.get("PartitionFilters", "")
               for n in find_nodes(back, "Scan"))
    assert back.count() == 1


def test_reduce_reference_signature(packed):
    # reference core.py:1981: columns as positional strings, dict output
    # names the columns
    def example_func(a, flux):
        return {"mean": float(np.mean(flux)), "mean_minus_a": float(np.mean(flux) - a)}

    out = packed.reduce(example_func, "a", "nested.flux", append_columns=True)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[0]["mean"] == pytest.approx(1.0)
    assert rows[0]["mean_minus_a"] == pytest.approx(1.0 - 0.1)
    with pytest.raises(TypeError, match="column-name strings"):
        packed.reduce(example_func, 3)


def test_reduce_dict_dotted_nesting(packed):
    # dotted dict keys pack into a nested output column (infer_nesting);
    # dotted outputs are array-valued, one element per nested row
    def f(flux):
        return {"res.lo": flux - np.min(flux), "res.hi": flux - np.max(flux)}

    out = packed.reduce(f, "nested.flux", append_columns=True)
    assert "res" in out.nested_columns
    row = {r["id"]: r for r in out.collect()}[1]
    assert [x["lo"] for x in row["res"]] == pytest.approx([0.0, 1.0, 2.0])
    assert [x["hi"] for x in row["res"]] == pytest.approx([-2.0, -1.0, 0.0])


def test_setitem_variants(objects, sources):
    # fresh frame: __setitem__ mutates in place, so don't touch the shared fixture
    nf = NestedFrame(objects).join_nested(sources, "nested", on="id", sort_within=["t"])
    nf["doubled"] = F.col("a") * 2          # Column -> base column
    nf["flag"] = 7                           # scalar broadcast
    nf["b2"] = "a + 1"                       # string -> eval expression
    nf["nested.flux2"] = "nested.flux * 10"  # dotted -> sub-column
    row = {r["id"]: r for r in nf.collect()}[0]
    assert row["doubled"] == pytest.approx(0.2)
    assert row["flag"] == 7
    assert row["b2"] == pytest.approx(1.1)
    assert [x["flux2"] for x in row["nested"]] == pytest.approx(
        [10.0 * x["flux"] for x in row["nested"]]
    )


def test_map_groups_per_key(spark):
    from nested_pandas_spark.operators.map_rows import map_groups

    df = spark.createDataFrame(
        [(1, 1.0), (1, 4.0), (1, 7.0), (2, 10.0), (2, 12.0)],
        "uid long, v double",
    )

    def span(pdf):
        return pdf.groupby("uid", as_index=False).agg(
            n=("v", "size"), span=("v", lambda s: s.max() - s.min())
        )

    out = {r["uid"]: (r["n"], r["span"]) for r in map_groups(
        df, "uid", span, "uid long, n long, span double").collect()}
    assert out == {1: (3, 6.0), 2: (2, 2.0)}


def test_map_groups_multi_key(spark):
    from nested_pandas_spark.operators.map_rows import map_groups

    df = spark.createDataFrame(
        [("a", 1, 2.0), ("a", 1, 3.0), ("a", 2, 5.0)],
        "g string, sub long, v double",
    )
    out = map_groups(
        df, ["g", "sub"],
        lambda pdf: pdf.groupby(["g", "sub"], as_index=False)["v"].sum(),
        "g string, sub long, v double",
    ).collect()
    assert sorted(map(tuple, out)) == [("a", 1, 5.0), ("a", 2, 5.0)]


def test_jsonl_roundtrip_preserves_nested(spark, tmp_path):
    from pyspark.sql import functions as F

    from nested_pandas_spark import read_jsonl, to_jsonl
    from nested_pandas_spark.operators.packer import pack

    child = spark.createDataFrame(
        [(1, 2.5, "a"), (1, 3.5, None), (2, 1.0, "b")],
        "k long, v double, tag string",
    )
    packed = pack(child, "items", on="k")
    p = str(tmp_path / "nested.jsonl")
    to_jsonl(packed, p)
    back = read_jsonl(spark, p, schema=packed.schema)
    a = sorted((r["k"], sorted((x["v"], x["tag"]) for x in r["items"]))
               for r in packed.collect())
    b = sorted((r["k"], sorted((x["v"], x["tag"]) for x in r["items"]))
               for r in back.collect())
    assert a == b  # nulls inside structs survive the omit-null round trip

    # dotted partial load + filter work on the JSON reader too
    part = read_jsonl(spark, p, columns=["k", "items.v"], filters="k = 1")
    assert part.columns == ["k", "items"]
    assert part.count() == 1
    fields = part.schema["items"].dataType.elementType.fieldNames()
    assert fields == ["v"]


def test_orc_roundtrip_preserves_nested(spark, packed):
    import shutil
    import tempfile

    from nested_pandas_spark.nestedframe.io import read_orc, to_orc

    d = tempfile.mkdtemp(prefix="orc_rt_")
    try:
        to_orc(packed.df, d)
        back = read_orc(spark, d)
        assert dict(back.dtypes)["nested"].startswith("array<struct<")
        orig = {r["id"]: [e["t"] for e in r["nested"]]
                for r in packed.df.collect()}
        got = {r["id"]: [e["t"] for e in r["nested"]] for r in back.collect()}
        assert got == orig
        # dotted partial load narrows the element struct
        part = read_orc(spark, d, columns=["id", "nested.flux"])
        fields = [f.name for f in part.schema["nested"].dataType.elementType.fields]
        assert fields == ["flux"]
        # filters apply after the scan
        assert read_orc(spark, d, filters="id > 0").count() == 2
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_read_orc_autocast_matches_read_parquet(spark):
    """autocast_list must behave identically across the two readers: run
    BEFORE column selection (dotted partial loads see the same nested
    shape) and honor the reject_nesting guard."""
    import shutil
    import tempfile

    from nested_pandas_spark.nestedframe.io import (
        read_orc, read_parquet, to_orc, write_parquet,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], [3, 4])],
        "id long, flux array<double>, keep array<long>",
    )
    d = tempfile.mkdtemp(prefix="orc_autocast_")
    try:
        to_orc(df, f"{d}/orc")
        write_parquet(df, f"{d}/pq")
        for back in (
            read_orc(spark, f"{d}/orc", columns=["id", "flux.flux"],
                     autocast_list=True, reject_nesting="keep"),
            read_parquet(spark, f"{d}/pq", columns=["id", "flux.flux"],
                         autocast_list=True, reject_nesting="keep"),
        ):
            # dotted selection through the autocast nest works (it would
            # fail if autocast ran after selection), reject stays plain
            assert dict(back.dtypes)["flux"] == "array<struct<flux:double>>"
            assert "keep" not in back.columns
            [r] = back.collect()
            assert [e["flux"] for e in r["flux"]] == [1.0, 2.0]
        rej = read_orc(spark, f"{d}/orc", autocast_list=True,
                       reject_nesting="keep")
        assert dict(rej.dtypes)["keep"] == "array<bigint>"
    finally:
        shutil.rmtree(d, ignore_errors=True)
