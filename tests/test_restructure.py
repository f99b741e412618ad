"""explode / split / to_flat / to_lists / to_flatten_inner tests
(reference test_nestedframe.py:2176 explode, :1760 split,
test_accessor.py:177 to_flat, :1153 to_flatten_inner)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from nested_pandas_spark import NestedFrame
from nested_pandas_spark.plans.inspect import find_nodes


def test_to_flat(packed):
    flat = packed.to_flat("nested")
    assert flat.count() == 9
    assert set(flat.columns) == {"id", "a", "b", "t", "flux", "flux_error", "band"}


def test_to_flat_column_subset(packed):
    flat = packed.to_flat("nested", columns=["flux"])
    assert set(flat.columns) == {"id", "a", "b", "flux"}


def test_to_flat_skips_null_cells(packed, spark, sources):
    base = spark.createDataFrame([(0, 0.0, 0.0), (99, 0.0, 0.0)], "id long, a double, b double")
    ndf = NestedFrame(base).join_nested(sources, "nested", on="id")
    assert ndf.to_flat("nested").count() == 3  # id 99 contributes nothing


def test_to_lists(packed):
    out = packed.to_lists("nested")
    row = {r["id"]: r for r in out.collect()}[0]
    assert row["t"] == [0.0, 1.0, 2.0]
    assert row["band"] == ["r", "g", "r"]


def test_frame_explode_nested(packed):
    out = packed.explode("nested")
    assert out.count() == 9
    assert "t" in out.columns and "a" in out.columns


def test_frame_explode_multi_aligned(spark):
    df = spark.createDataFrame(
        [(1, [1, 2], [10.0, 20.0]), (2, [3], [30.0])],
        "id int, e array<int>, f array<double>",
    )
    out = NestedFrame(df).explode(["e", "f"])
    rows = sorted((r["id"], r["e"], r["f"]) for r in out.collect())
    assert rows == [(1, 1, 10.0), (1, 2, 20.0), (2, 3, 30.0)]


def test_frame_explode_mismatch_raises(spark):
    df = spark.createDataFrame(
        [(1, [1, 2], [10.0])], "id int, e array<int>, f array<double>"
    )
    with pytest.raises(Exception, match="lengths"):
        NestedFrame(df).explode(["e", "f"]).df.collect()


def test_split(packed):
    out = packed.split("nested", by="band")
    assert "nested_r" in out.columns and "nested_g" in out.columns
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows[0]["nested_r"]) == 2
    assert len(rows[0]["nested_g"]) == 1
    assert "nested" not in out.columns


def test_split_drop_by_col(packed):
    out = packed.split("nested", by="band", values=["r"], drop_by_col=True)
    fields = out.nested_fields("nested_r")
    assert "band" not in fields


def test_double_nesting_and_flatten_inner(spark, objects, sources):
    inner = NestedFrame(objects).join_nested(sources, "inner_n", on="id", sort_within=["t"])
    # pack the already-packed frame again under a coarser key (F7 fixture)
    grouped = NestedFrame(
        spark.createDataFrame([(1,)], "g int")
    ).join_nested(inner.df.withColumn("g", F.lit(1)), "outer_n", on="g")
    assert "outer_n" in grouped.nested_columns
    flattened = grouped.to_flatten_inner("outer_n", "inner_n")
    row = flattened.collect()[0]
    assert len(row["outer_n"]) == 9  # 3 objects x 3 inner each
    fields = flattened.nested_fields("outer_n")
    assert "t" in fields and "a" in fields and "inner_n" not in fields


def test_sub_column_selection(packed):
    out = packed.select_nested_fields("nested", ["t", "band"])
    assert out.nested_fields("nested") == ["t", "band"]


def test_drop_subcolumn(packed):
    out = packed.drop("nested.flux_error")
    assert "flux_error" not in out.nested_fields("nested")


def test_drop_all_fields_raises(packed):
    with pytest.raises(ValueError, match="all fields"):
        packed.drop(["nested.t", "nested.flux", "nested.flux_error", "nested.band"])


def test_set_nested_field_from_sql(packed):
    out = packed.set_nested_field("nested.mag", "22.5 - 2.5 * log10(nested.flux + 1)")
    assert "mag" in out.nested_fields("nested")


def test_to_flat_pending_skips_aggregation(spark, objects, sources):
    """pack->to_flat on a fresh join_nested must compile to a plain join
    (no collect_list) and produce identical rows."""
    ndf = NestedFrame(objects).join_nested(sources, "nested", on="id")
    flat = ndf.to_flat("nested")
    assert not find_nodes(flat.df, text="collect_list")
    got = sorted((r["id"], r["t"], r["flux"]) for r in flat.select("id", "t", "flux").collect())
    # eager path for comparison
    eager = NestedFrame(
        NestedFrame(objects).join_nested(sources, "nested", on="id").df
    ).to_flat("nested")
    want = sorted((r["id"], r["t"], r["flux"]) for r in eager.select("id", "t", "flux").collect())
    assert got == want


def test_to_flat_pending_with_query_pushdown(spark, objects, sources):
    ndf = NestedFrame(objects).join_nested(sources, "nested", on="id")
    flat = ndf.query("nested.flux >= 20").to_flat("nested")
    rows = flat.collect()
    assert all(r["flux"] >= 20 for r in rows)
    assert len(rows) == 3  # only object 2's fluxes are >= 20


def test_select_nested_fields_pending_narrows_pack(spark, objects, sources):
    ndf = NestedFrame(objects).join_nested(sources, "nested", on="id")
    narrow = ndf.select_nested_fields("nested", ["t"])
    assert narrow.nested_fields("nested") == ["t"]
    # the collect_list struct must carry only the selected field (with a
    # parquet source the scan ReadSchema would prune too; the in-memory test
    # source always lists every column in its scan line)
    aggs = find_nodes(narrow.df, text="collect_list")
    assert aggs and all("flux" not in n.text for n in aggs)


def test_non_identifier_columns_end_to_end(spark):
    """F8: spaces/punctuation in base and nested sub-column names survive
    pack -> query (backticked) -> explode (reference test_nestedframe.py:939)."""
    base = spark.createDataFrame([(0, 1.0), (1, 5.0)], ["id", "a a"])
    child = spark.createDataFrame(
        [(0, 1.0, "x"), (0, 9.0, "y"), (1, 2.0, "z")], ["id", "t t", "b-b"]
    )
    ndf = NestedFrame(base).join_nested(child, "nested", on="id")
    q = ndf.query("nested.`t t` > 1.5 and `a a` < 99")
    rows = {r["id"]: r["nested"] for r in q.df.collect()}
    assert [e["t t"] for e in rows[0]] == [9.0]
    flat = q.to_flat("nested")
    assert set(flat.columns) == {"id", "a a", "t t", "b-b"}
    q2 = ndf.eval("nested.`t2 x` = nested.`t t` * 2")
    assert "t2 x" in q2.nested_fields("nested")


def test_nest_accessor(packed):
    acc = packed.nest("nested")
    assert acc.fields == ["t", "flux", "flux_error", "band"]
    assert acc.to_flat().count() == 9
    assert acc.flat_length() == 9
    q = acc.query("nested.flux > 100")
    assert q.count() == 0  # drop-empty semantics
    wf = acc.with_field("mag", "nested.flux * 2")
    assert "mag" in wf.nested_fields("nested")
    dropped = acc.drop("flux_error")
    assert "flux_error" not in dropped.nested_fields("nested")


def test_explode_ignore_index(packed):
    out = packed.explode("nested", ignore_index=True)
    rows = out.df.collect()
    assert len(rows) == 9
    ids = [r["index"] for r in rows]
    # unique ascending int64 identity, reference RangeIndex analogue
    assert len(set(ids)) == 9
    assert ids == sorted(ids)
    assert "flux" in out.columns


def test_explode_ignore_index_pending(spark, objects, sources):
    # pending-pack path: explode collapses to a join, index still appended
    ndf = NestedFrame(objects).join_nested(sources, "nested", on="id")
    out = ndf.explode("nested", ignore_index=True)
    rows = out.df.collect()
    assert len(rows) == 9
    assert len({r["index"] for r in rows}) == 9


def test_flat_index(packed):
    fi = packed.nest("nested").flat_index(keys=["id"])
    vals = sorted(r["id"] for r in fi.collect())
    assert vals == [0, 0, 0, 1, 1, 1, 2, 2, 2]
    assert fi.columns == ["id"]


def test_flat_index_skips_null_cells(spark, sources):
    base = spark.createDataFrame([(0,), (99,)], "id long")
    ndf = NestedFrame(base).join_nested(sources, "nested", on="id")
    fi = ndf.nest("nested").flat_index(keys=["id"])
    assert sorted(r["id"] for r in fi.collect()) == [0, 0, 0]


def test_accessor_setitem_and_aliases(spark, objects, sources):
    ndf = NestedFrame(objects).join_nested(sources, "nested", on="id")
    acc = ndf.nest("nested")
    acc["mag"] = "nested.flux * 2"            # __setitem__ mutates the frame
    assert "mag" in ndf.nested_fields("nested")
    row = {r["id"]: r for r in ndf.collect()}[1]
    assert [x["mag"] for x in row["nested"]] == [20.0, 22.0, 24.0]
    # alias family resolves and returns frames
    wf = acc.with_list_field("m2", "nested.flux + 1")
    assert "m2" in wf.nested_fields("nested")
    # list_lengths / get_flat_index aliases
    n = ndf.df.select(acc.list_lengths()).collect()
    assert sorted(r[0] for r in n) == [3, 3, 3]
    fi = acc.get_flat_index(keys=["id"])
    assert fi.count() == 9


def test_rename_base_and_subfield(spark):
    from nested_pandas_spark import NestedFrame
    from pyspark.sql import functions as F

    base = spark.createDataFrame([(1, "x")], "id long, tag string")
    child = spark.createDataFrame([(1, 2.0), (1, 3.0)], "id long, flux double")
    ndf = NestedFrame(base).join_nested(child, "nested", on="id")
    out = ndf.rename({"tag": "label", "nested.flux": "brightness"})
    assert "label" in out.df.columns and "tag" not in out.df.columns
    fields = out.df.schema["nested"].dataType.elementType.fieldNames()
    assert "brightness" in fields and "flux" not in fields
    # values survive the struct rebuild
    got = out.df.select(
        F.expr("transform(nested, x -> x.brightness)").alias("b")).first()["b"]
    assert sorted(got) == [2.0, 3.0]
    # dotted new name allowed when same nest; cross-nest rename refused
    out2 = ndf.rename({"nested.flux": "nested.f2"})
    assert "f2" in out2.df.schema["nested"].dataType.elementType.fieldNames()
    import pytest as _pytest
    with _pytest.raises(ValueError):
        ndf.rename({"nested.flux": "other.f"})
    with _pytest.raises(KeyError):
        ndf.rename({"missing": "x"})


def test_astype_base_and_subfield(spark):
    from nested_pandas_spark import NestedFrame
    from pyspark.sql import functions as F

    base = spark.createDataFrame([(1,)], "id long")
    child = spark.createDataFrame([(1, 2), (1, 3)], "id long, flux long")
    ndf = NestedFrame(base).join_nested(child, "nested", on="id")
    out = ndf.astype({"nested.flux": "double", "id": "string"})
    assert dict(out.df.dtypes)["id"] == "string"
    et = out.df.schema["nested"].dataType.elementType
    assert str(et["flux"].dataType) == "DoubleType()"
    got = out.df.select(
        F.expr("transform(nested, x -> x.flux)").alias("f")).first()["f"]
    assert sorted(got) == [2.0, 3.0]
    import pytest as _pytest
    with _pytest.raises(KeyError):
        ndf.astype({"nested.nope": "double"})


def test_rename_collision_raises(spark):
    import pytest as _pytest

    from nested_pandas_spark import NestedFrame

    base = spark.createDataFrame([(1, "x", "y")], "id long, a string, b string")
    child = spark.createDataFrame([(1, 2.0, 3.0)], "id long, f double, g double")
    ndf = NestedFrame(base).join_nested(child, "nested", on="id")
    with _pytest.raises(ValueError):
        ndf.rename({"a": "b"})              # base collision
    with _pytest.raises(ValueError):
        ndf.rename({"nested.f": "g"})       # sub-field collision
    # renaming onto itself is a no-op, not an error
    assert ndf.rename({"a": "a"}).df.columns == ndf.df.columns
