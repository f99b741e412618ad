"""Golden parity: run the ACTUAL reference library (nested-pandas, imported
from /root/reference/src with import-time stubs for its absent optional deps)
and this engine on identical inputs, and require identical observable
behavior — including the empty-vs-NULL cell conventions.

This is the strongest form of the 'a user of the reference could switch'
guarantee: the oracle here is the reference itself, not a re-derivation.
"""

import math
import shutil
import sys

import pytest


def _write_shim(shim):
    """Copy the reference sources into ``shim`` beside stand-ins for the
    optional deps this env lacks; raises if the checkout is absent."""
    shutil.copytree("/root/reference/src/nested_pandas", shim / "nested_pandas")
    (shim / "nested_pandas" / "_version.py").write_text(
        '__version__ = version = "0.0.0-local"\n__version_tuple__ = version_tuple = (0,0,0)\n'
    )
    (shim / "deprecated").mkdir()
    (shim / "deprecated" / "__init__.py").write_text(
        "def deprecated(*dargs, **dkwargs):\n"
        "    if len(dargs) == 1 and callable(dargs[0]) and not dkwargs:\n"
        "        return dargs[0]\n"
        "    def wrap(fn):\n"
        "        return fn\n"
        "    return wrap\n"
    )
    (shim / "fsspec").mkdir()
    (shim / "fsspec" / "__init__.py").write_text(
        "class AbstractFileSystem: ...\n"
        "def filesystem(*a, **k):\n    raise NotImplementedError\n"
        "from . import parquet\n"
    )
    (shim / "fsspec" / "parquet.py").write_text(
        # local-file support is enough for the parity tests; the real fsspec
        # only adds remote byte-range caching on top of this
        "def open_parquet_file(path, **k):\n    return open(path, 'rb')\n"
    )
    (shim / "upath").mkdir()
    (shim / "upath" / "__init__.py").write_text(
        "import pathlib\n"
        "class UPath(type(pathlib.Path())):\n"
        "    protocol = ''\n"
        "    fs = None  # pyarrow treats filesystem=None as local\n"
        "    @property\n"
        "    def path(self):\n"
        "        return str(self)\n"
    )


@pytest.fixture(scope="module")
def ref(tmp_path_factory):
    """Import the reference library with shims for deps not in this env."""
    shim = tmp_path_factory.mktemp("refshim")
    sys.path.insert(0, str(shim))
    try:
        _write_shim(shim)
        import nested_pandas as npd  # noqa
    except Exception as exc:  # no reference checkout, or it cannot import
        sys.path.remove(str(shim))
        pytest.skip(f"reference library not importable here: {exc}")
    yield npd
    sys.path.remove(str(shim))
    # evict everything imported from the shim (incl. the fake fsspec/upath)
    # so later test modules see the real environment again
    for name in list(sys.modules):
        root = name.split(".", 1)[0]
        if root in ("nested_pandas", "fsspec", "upath", "deprecated"):
            del sys.modules[name]


@pytest.fixture(scope="module")
def pair(ref, spark):
    """The same base+child data in both engines, packed under 'nested'."""
    import pandas as pd

    from nested_pandas_spark import NestedFrame

    base_rows = [(0, 1.0), (1, 2.0), (2, 3.0), (3, 4.0)]
    child_rows = [
        (0, 1.0, 5.0, "r"),
        (0, 2.0, 6.0, "g"),
        (1, 3.0, 7.0, "r"),
        (1, 4.0, None, "g"),
        (2, 5.0, 9.0, "r"),
        # key 3 has no children
    ]
    ref_base = ref.NestedFrame(
        {"a": [r[1] for r in base_rows]}, index=[r[0] for r in base_rows]
    )
    ref_child = pd.DataFrame(
        {
            "t": [r[1] for r in child_rows],
            "f": [r[2] for r in child_rows],
            "band": [r[3] for r in child_rows],
        },
        index=[r[0] for r in child_rows],
    )
    ref_packed = ref_base.join_nested(ref_child, "nested")

    sp_base = spark.createDataFrame(base_rows, "id long, a double")
    sp_child = spark.createDataFrame(child_rows, "id long, t double, f double, band string")
    sp_packed = NestedFrame(sp_base).join_nested(
        sp_child, "nested", on="id", sort_within=["t"]
    )
    return ref_packed, sp_packed


def _ref_cells(ref_frame, col="nested"):
    """{key: None | sorted list of element tuples} from the reference frame."""
    out = {}
    for key, cell in ref_frame[col].items():
        if cell is None or (isinstance(cell, float) and math.isnan(cell)):
            out[key] = None
        else:
            rows = []
            for _, r in cell.iterrows():
                rows.append(tuple(None if pd.isna_scalar(v) else v for v in r))
            out[key] = sorted(rows, key=lambda x: tuple((e is None, e) for e in x))
    return out


# small helper usable inside _ref_cells
import pandas as pd


def _isna(v):
    try:
        return pd.isna(v)
    except (TypeError, ValueError):
        return False


pd.isna_scalar = _isna


def _sp_cells(sp_frame, col="nested", key="id"):
    out = {}
    for r in sp_frame.df.select(key, col).collect():
        cell = r[col]
        if cell is None:
            out[r[key]] = None
        else:
            rows = [tuple(e[f] for f in e.__fields__) for e in cell]
            out[r[key]] = sorted(rows, key=lambda x: tuple((e is None, e) for e in x))
    return out


def test_pack_parity(pair):
    ref_packed, sp_packed = pair
    assert _ref_cells(ref_packed) == _sp_cells(sp_packed)


def test_nested_query_parity(pair):
    """Element filter: kept rows, emptied cells -> None, in BOTH engines."""
    ref_packed, sp_packed = pair
    r = _ref_cells(ref_packed.query("nested.t > 2"))
    s = _sp_cells(sp_packed.query("nested.t > 2"))
    assert r == s
    # key 0 empties out; the reference nullifies it — so must we
    assert r[0] is None


def test_eval_assignment_parity(pair):
    # note: base-broadcast RHS ("nested.t + a") raises a length-mismatch
    # inside the REFERENCE itself when any cell is NULL, so parity is
    # checked on a nested-only expression here
    ref_packed, sp_packed = pair
    r = _ref_cells(ref_packed.eval("nested.u = nested.t * 2"))
    s = _sp_cells(sp_packed.eval("nested.u = nested.t * 2"))
    # Default mode keeps NULL in -> NULL out (consistent with every other
    # operator here); the reference's assignment repack instead turns a
    # NULL cell into an EMPTY cell. Normalize that edge for the default...
    norm = lambda d: {k: (v or None) for k, v in d.items()}
    assert norm(r) == norm(s)


def test_eval_assignment_reference_empty_cells_parity(pair):
    """...and empty_cells='reference' reproduces the reference's NULL->empty
    conversion EXACTLY — no normalization: cell conventions are
    bit-identical, closing the one documented deviation."""
    ref_packed, sp_packed = pair
    r = _ref_cells(ref_packed.eval("nested.u = nested.t * 2"))
    s = _sp_cells(sp_packed.eval("nested.u = nested.t * 2",
                                 empty_cells="reference"))
    assert r == s
    # the childless key really is an EMPTY cell in both engines
    assert r[3] == [] and s[3] == []


def test_dropna_parity(pair):
    ref_packed, sp_packed = pair
    r = _ref_cells(ref_packed.dropna(subset="nested.f"))
    s = _sp_cells(sp_packed.dropna(subset="nested.f"))
    assert r == s


def test_fillna_parity(pair):
    ref_packed, sp_packed = pair
    r = _ref_cells(ref_packed.fillna({"nested.f": -1.0}))
    s = _sp_cells(sp_packed.fillna({"nested.f": -1.0}))
    assert r == s


def test_sort_values_parity(pair):
    ref_packed, sp_packed = pair
    rf = ref_packed.sort_values(by="nested.t", ascending=False)
    sf = sp_packed.sort_values("nested.t", ascending=False)
    # compare ORDER inside cells here (not sorted multisets)
    r = {
        k: (None if c is None or (isinstance(c, float) and math.isnan(c))
            else [tuple(None if _isna(v) else v for v in row) for _, row in c.iterrows()])
        for k, c in rf["nested"].items()
    }
    s = {}
    for row in sf.df.select("id", "nested").collect():
        cell = row["nested"]
        s[row["id"]] = None if cell is None else [
            tuple(e[f] for f in e.__fields__) for e in cell
        ]
    assert r == s


def test_count_nested_parity(ref, pair):
    from nested_pandas.utils import count_nested

    ref_packed, sp_packed = pair
    rf = count_nested(ref_packed.dropna(subset="nested"), "nested", by="band", join=True)
    sp = sp_packed.df.where("nested IS NOT NULL")
    from nested_pandas_spark import NestedFrame

    sf = NestedFrame(sp).count_nested("nested", by="band", values=["g", "r"])
    r = {k: (int(rf["n_nested_r"][k]), int(rf["n_nested_g"][k])) for k in rf.index}
    s = {
        row["id"]: (row["n_nested_r"], row["n_nested_g"])
        for row in sf.df.select("id", "n_nested_r", "n_nested_g").collect()
    }
    assert r == s


def test_to_flat_parity(pair):
    ref_packed, sp_packed = pair
    rflat = ref_packed["nested"].nest.to_flat()
    r = sorted(
        (idx, row["t"], None if _isna(row["f"]) else row["f"], row["band"])
        for idx, row in rflat.iterrows()
    )
    s = sorted(
        (row["id"], row["t"], row["f"], row["band"])
        for row in sp_packed.to_flat("nested", keys=["id"]).collect()
    )
    assert r == s


def test_split_parity(pair):
    ref_packed, sp_packed = pair
    rf = ref_packed.split("nested", by="band")
    sf = sp_packed.split("nested", by="band", values=["g", "r"])
    for col in ("nested_r", "nested_g"):
        r = _ref_cells(rf, col)
        s = _sp_cells(sf, col)
        # the reference may produce empty cells where we produce empty arrays;
        # normalize both to element lists ([] == [])
        norm = lambda d: {k: (v if v else []) if v is not None else None for k, v in d.items()}
        assert norm(r) == norm(s)


def test_reduce_map_rows_parity(pair):
    import numpy as np

    ref_packed, sp_packed = pair
    rf = ref_packed.dropna(subset="nested").reduce(np.mean, "nested.t")
    r = {k: float(v) for k, v in rf.iloc[:, 0].items()}
    out = sp_packed.df.where("nested IS NOT NULL")
    from nested_pandas_spark import NestedFrame

    sf = NestedFrame(out).map_rows(
        lambda t: float(np.mean(t)), columns=["nested.t"],
        output_names=["m"], append_columns=True,
    )
    s = {row["id"]: row["m"] for row in sf.df.select("id", "m").collect()}
    assert set(r) == set(s)
    for k in r:
        assert s[k] == pytest.approx(r[k])


def test_minmax_parity(pair):
    ref_packed, sp_packed = pair
    rmax = ref_packed.max()
    smax = sp_packed.max().collect()[0]
    assert smax["a"] == pytest.approx(float(rmax["a"]))
    assert smax["nested.t"] == pytest.approx(float(rmax["nested.t"]))
    assert smax["nested.f"] == pytest.approx(float(rmax["nested.f"]))


def test_describe_parity(pair):
    ref_packed, sp_packed = pair
    rdesc = ref_packed.describe()
    # reference columns are labeled 'nested.t' etc; compare t's stats
    rt = rdesc["nested.t"]
    sd = {row["column"]: row for row in sp_packed.describe().collect()}["nested.t"]
    assert sd["count"] == int(rt["count"])
    assert sd["mean"] == pytest.approx(float(rt["mean"]))
    assert sd["std"] == pytest.approx(float(rt["std"]))
    assert sd["p25"] == pytest.approx(float(rt["25%"]))
    assert sd["p50"] == pytest.approx(float(rt["50%"]))
    assert sd["p75"] == pytest.approx(float(rt["75%"]))


def test_to_lists_parity(pair):
    ref_packed, sp_packed = pair
    rl = ref_packed["nested"].nest.to_lists()
    r = {}
    for k, v in rl["t"].items():
        try:
            r[k] = [float(x) for x in v]
        except TypeError:
            pass  # NULL cell (scalar NA) — skipped on both sides
    sl = sp_packed.to_lists("nested")
    s = {row["id"]: row["t"] for row in sl.df.select("id", "t").collect()
         if row["t"] is not None}
    # compare as multisets per key (reference preserves input order; ours is
    # sorted by t via sort_within)
    assert {k: sorted(v) for k, v in r.items()} == {k: sorted(v) for k, v in s.items()}


def test_from_flat_parity(ref, spark):
    import pandas as pd

    from nested_pandas_spark import NestedFrame

    flat_rows = [(0, "x", 1.0), (0, "x", 2.0), (1, "y", 3.0)]
    rff = ref.NestedFrame.from_flat(
        ref.NestedFrame(
            {"label": [r[1] for r in flat_rows], "v": [r[2] for r in flat_rows]},
            index=[r[0] for r in flat_rows],
        ),
        base_columns=["label"],
    )
    r = {
        k: (row["label"], sorted(e["v"] for _, e in row["nested"].iterrows()))
        for k, row in rff.iterrows()
    }
    sdf = spark.createDataFrame(flat_rows, "id long, label string, v double")
    sff = NestedFrame.from_flat(sdf, base_columns=["label"], on="id")
    s = {
        row["id"]: (row["label"], sorted(e["v"] for e in row["nested"]))
        for row in sff.df.collect()
    }
    assert r == s


def test_to_pandas_matches_reference(pair):
    """to_pandas (default struct-of-lists ArrowDtype cells) must be
    assert_frame_equal-identical to the reference's to_pandas output
    (reference core.py:2547-2584)."""
    ref_packed, sp_packed = pair
    expected = ref_packed.to_pandas()
    got = (
        sp_packed.to_pandas()
        .sort_values("id")
        .set_index("id")
        .rename_axis(None)[list(expected.columns)]
    )
    pd.testing.assert_frame_equal(got, expected)


def test_to_pandas_layout_toggles(pair):
    import pyarrow as pa

    _, sp_packed = pair
    t = sp_packed.to_pandas(list_struct=True)["nested"].dtype.pyarrow_dtype
    assert pa.types.is_list(t) and pa.types.is_struct(t.value_type)
    t2 = sp_packed.to_pandas(large_list=True)["nested"].dtype.pyarrow_dtype
    assert pa.types.is_struct(t2) and all(pa.types.is_large_list(f.type) for f in t2)
    t3 = sp_packed.to_pandas(list_struct=True, large_list=True)["nested"].dtype.pyarrow_dtype
    assert pa.types.is_large_list(t3)


def test_to_pandas_roundtrips_into_reference(ref, pair):
    """Feeding our to_pandas output to the reference's constructor must
    reproduce the reference frame exactly (list-struct arrow columns
    auto-cast to NestedDtype in its __init__)."""
    ref_packed, sp_packed = pair
    pdf = (
        sp_packed.to_pandas(list_struct=True)
        .sort_values("id")
        .set_index("id")
        .rename_axis(None)
    )
    ref_rt = ref.NestedFrame(pdf[["a", "nested"]])
    assert ref_rt.nested_columns == ["nested"]
    pd.testing.assert_frame_equal(ref_rt.to_pandas(), ref_packed.to_pandas())


def test_from_pyarrow_matches_reference(ref, spark):
    """from_pyarrow on the reference's own doc-example table: both engines
    must see the same nested structure (reference io.py:498-572)."""
    import pyarrow as pa

    from nested_pandas_spark import NestedFrame, from_pyarrow

    def mk_table():
        # fresh table per engine: the reference's from_pyarrow consumes the
        # table's buffers (to_pandas(self_destruct=True))
        return pa.table(
            {
                "obj_id": [1, 2, 3],
                "nested": pa.array(
                    [
                        [{"flux": 0.5, "time": 1}],
                        [{"flux": 1.2, "time": 2}, {"flux": 0.8, "time": 3}],
                        [{"flux": 2.0, "time": 4}],
                    ]
                ),
            }
        )

    ref_nf = ref.from_pyarrow(mk_table())
    sp_nf = NestedFrame(from_pyarrow(spark, mk_table()))
    assert sp_nf.nested_columns == ["nested"]
    ref_flat = ref_nf["nested"].nest.to_flat()
    got = {
        (r["obj_id"], r["flux"], r["time"])
        for r in sp_nf.to_flat("nested", keys=["obj_id"]).df.collect()
    }
    want = {
        # the reference's flat view keys on the positional index; map back
        # to the obj_id column for comparison
        (int(ref_nf["obj_id"][k]), r["flux"], r["time"])
        for k, r in ref_flat.iterrows()
    }
    assert got == want


def test_from_pyarrow_struct_of_lists_roundtrip(ref, pair, spark):
    """The reference's to_pandas -> pa.Table (its NestedDtype storage,
    struct-of-lists with large_list offsets) loads back through our
    from_pyarrow with identical cells."""
    import pyarrow as pa

    from nested_pandas_spark import NestedFrame, from_pyarrow

    ref_packed, sp_packed = pair
    table = pa.Table.from_pandas(ref_packed.to_pandas().reset_index(names="id"))
    sp_rt = NestedFrame(from_pyarrow(spark, table))
    assert "nested" in sp_rt.nested_columns
    assert _sp_cells(sp_rt) == _sp_cells(sp_packed)


def test_struct_of_lists_parquet_reads_into_reference(ref, pair, tmp_path):
    """to_parquet(layout='struct_of_lists') writes the reference's on-disk
    byte layout (reference core.py:2586-2631): the file must load straight
    into a reference NestedFrame via its own read_parquet, AND read back
    through our read_parquet with identical cells."""
    from nested_pandas_spark import NestedFrame, read_parquet

    ref_packed, sp_packed = pair
    spark = sp_packed.df.sparkSession
    path = str(tmp_path / "sol_layout")
    sp_packed.to_parquet(path, layout="struct_of_lists")

    # on-disk schema is struct<t: list, f: list, band: list>, one file part
    import glob

    import pyarrow.parquet as pq

    part = glob.glob(path + "/*.parquet")[0]
    arrow_type = pq.read_schema(part).field("nested").type
    import pyarrow as pa

    assert pa.types.is_struct(arrow_type)
    assert all(pa.types.is_list(f.type) for f in arrow_type)

    # the reference's own reader accepts it and sees a nested column
    ref_rt = ref.read_parquet(part)
    assert "nested" in ref_rt.nested_columns
    want = _ref_cells(ref_packed)
    got = _ref_cells(ref_rt.set_index("id").rename_axis(None))
    assert got == want

    # and our reader auto-casts it back to array<struct>
    sp_rt = NestedFrame(read_parquet(spark, path))
    assert "nested" in sp_rt.nested_columns
    assert _sp_cells(sp_rt) == _sp_cells(sp_packed)


def test_accessor_query_parity(ref, pair):
    """Series-level .nest.query: drops rows whose cell empties (unlike the
    frame-level query, which nullifies them) — in BOTH engines."""
    ref_packed, sp_packed = pair
    ref_q = ref_packed["nested"].nest.query("t > 2")
    # reference returns a NestedSeries of surviving keys only
    ref_cells = {}
    for key, cell in ref_q.items():
        rows = [
            tuple(None if pd.isna_scalar(v) else v for v in r)
            for _, r in cell.iterrows()
        ]
        ref_cells[key] = sorted(
            rows, key=lambda x: tuple((e is None, e) for e in x)
        )
    sp_q = sp_packed.nest("nested").query("nested.t > 2")
    assert _sp_cells(sp_q) == ref_cells
    assert 0 not in ref_cells  # key 0 empties out and is DROPPED here


def test_accessor_without_field_parity(pair):
    ref_packed, sp_packed = pair
    ref_dropped = ref_packed["nested"].nest.without_field("f")
    ref_cells = {}
    for key, cell in ref_dropped.items():
        if cell is None:
            ref_cells[key] = None
            continue
        rows = [
            tuple(None if pd.isna_scalar(v) else v for v in r)
            for _, r in cell.iterrows()
        ]
        ref_cells[key] = sorted(
            rows, key=lambda x: tuple((e is None, e) for e in x)
        )
    sp_dropped = sp_packed.nest("nested").without_field("f")
    assert list(ref_dropped.nest.fields) == sp_dropped.nested_fields("nested")
    got = _sp_cells(sp_dropped)
    # documented deviation (same class as eval-assignment repack): the
    # reference's storage rebuild turns a NULL cell into an EMPTY cell
    # (key 3 -> []); we preserve NULL. Normalize both to None to compare
    # the rows that exist.
    norm = lambda cells: {k: (v or None) for k, v in cells.items()}  # noqa: E731
    assert norm(got) == norm(ref_cells)


def test_from_lists_parity(ref, spark):
    """NestedFrame.from_lists: list columns zip into one nested column with
    identical cells in both engines."""
    import pandas as pd
    import pyarrow as pa

    from nested_pandas_spark import NestedFrame
    from nested_pandas_spark.operators.packer import from_lists

    data = [
        (0, "x", [1.0, 2.0], [10.0, 20.0]),
        (1, "y", [3.0], [30.0]),
        (2, "z", [], []),
    ]
    ref_df = ref.NestedFrame(
        {
            "label": [r[1] for r in data],
            "t": pd.Series([r[2] for r in data], dtype=pd.ArrowDtype(pa.list_(pa.float64()))),
            "f": pd.Series([r[3] for r in data], dtype=pd.ArrowDtype(pa.list_(pa.float64()))),
        },
        index=[r[0] for r in data],
    )
    rff = ref_df.nest_lists(columns=["t", "f"], name="nested")
    r = {
        k: sorted(
            (e["t"], e["f"]) for _, e in row["nested"].iterrows()
        )
        for k, row in rff.iterrows()
        if row["nested"] is not None
    }
    sdf = spark.createDataFrame(
        data, "id long, label string, t array<double>, f array<double>"
    )
    sff = NestedFrame(from_lists(sdf, list_columns=["t", "f"]))
    s = {
        row["id"]: sorted((e["t"], e["f"]) for e in row["nested"])
        for row in sff.df.collect()
        if row["nested"] is not None
    }
    assert r == s


def test_from_lists_ragged_raises_parity(ref, spark):
    """The reference raises on mismatched per-row list lengths; with
    validate=True so do we (at execution, via the assert_true predicate) —
    closing the documented arrays_zip NULL-padding deviation."""
    import pandas as pd
    import pyarrow as pa

    from nested_pandas_spark.operators.packer import from_lists

    ragged = {
        "t": pd.Series([[1.0, 2.0]], dtype=pd.ArrowDtype(pa.list_(pa.float64()))),
        "f": pd.Series([[10.0]], dtype=pd.ArrowDtype(pa.list_(pa.float64()))),
    }
    with pytest.raises(ValueError):
        ref.NestedFrame(ragged).nest_lists(columns=["t", "f"], name="nested")

    sdf = spark.createDataFrame(
        [(0, [1.0, 2.0], [10.0])], "id long, t array<double>, f array<double>"
    )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with pytest.raises((PySparkException, Py4JJavaError)):
        from_lists(sdf, list_columns=["t", "f"], validate=True).collect()
    # aligned rows still pass under validate
    ok = spark.createDataFrame(
        [(0, [1.0, 2.0], [10.0, 20.0])], "id long, t array<double>, f array<double>"
    )
    assert from_lists(ok, list_columns=["t", "f"], validate=True).count() == 1


def test_from_pyarrow_ragged_raises_parity(ref, spark):
    """Struct-of-lists ingest: the reference refuses a struct whose fields
    have unequal lengths; from_pyarrow(validate=True) raises on the same
    table at execution."""
    import pyarrow as pa

    from nested_pandas_spark.nestedframe.io import from_pyarrow

    def mk_table():
        # fresh table per engine: the reference's from_pyarrow consumes the
        # table's buffers (to_pandas(self_destruct=True)) even when raising
        return pa.table(
            {
                "id": pa.array([0], pa.int64()),
                "nest": pa.array(
                    [{"a": [1.0, 2.0], "b": [3.0]}],
                    pa.struct([("a", pa.list_(pa.float64())),
                               ("b", pa.list_(pa.float64()))]),
                ),
            }
        )

    with pytest.raises(ValueError):
        ref.from_pyarrow(mk_table())

    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    with pytest.raises((PySparkException, Py4JJavaError)):
        from_pyarrow(spark, mk_table(), validate=True).collect()
    # and the default stays the documented NULL-pad (no raise)
    assert from_pyarrow(spark, mk_table()).count() == 1


def test_accessor_with_field_parity(ref, pair):
    """with_field/with_flat_field: adding a computed sub-column yields the
    same cells in both engines (the reference takes flat values; ours takes
    the expression that computes them — observable results must agree)."""
    import numpy as np

    ref_packed, sp_packed = pair
    flat = ref_packed["nested"].nest.to_flat()
    doubled = ref_packed["nested"].nest.with_flat_field(
        "t2", (flat["t"] * 2).to_numpy(dtype=np.float64)
    )
    ref_cells = {}
    for key, cell in doubled.items():
        if cell is None:
            ref_cells[key] = None
            continue
        rows = [
            tuple(None if pd.isna_scalar(v) else v for v in r)
            for _, r in cell.iterrows()
        ]
        ref_cells[key] = sorted(
            rows, key=lambda x: tuple((e is None, e) for e in x)
        )
    sp_doubled = sp_packed.nest("nested").with_field("t2", "nested.t * 2")
    got = _sp_cells(sp_doubled)
    norm = lambda cells: {k: (v or None) for k, v in cells.items()}  # noqa: E731
    assert norm(got) == norm(ref_cells)


def test_eval_global_reduction_parity(pair):
    """`a + nested.t.median()` — global flat-series reduction broadcast into
    a base expression (reference test_nestedframe.py:2420
    test_mixed_eval_funcs)."""
    ref_packed, sp_packed = pair
    r = {k: float(v) for k, v in ref_packed.eval("a + nested.t.median()").items()}
    sf = sp_packed.eval("s = a + nested.t.median()")
    s = {row["id"]: row["s"] for row in sf.df.select("id", "s").collect()}
    assert set(r) == set(s)
    for k in r:
        assert s[k] == pytest.approx(r[k])


def test_eval_reduction_scalar_matches_flat_series(pair):
    """`nested.t.max()` equals the reference's flat-series max (reference
    test_eval_funcs: nf.eval('nested.a.max()') == nf['nested.a'].max())."""
    ref_packed, sp_packed = pair
    want = float(ref_packed["nested.t"].max())
    got = {row["m"] for row in
           sp_packed.eval("m = nested.t.max()").df.select("m").collect()}
    assert got == {want}


def test_query_element_isna_parity(pair):
    """`nested.f.isna()` element filter (reference test_eval_funcs)."""
    ref_packed, sp_packed = pair
    r = _ref_cells(ref_packed.query("nested.f.isna()"))
    s = _sp_cells(sp_packed.query("nested.f.isna()"))
    assert r == s


def test_dropna_nested_layer_as_base_parity(pair):
    """A nested column works as a top-level dropna target (reference
    test_dropna_layer_as_base_column): rows whose cell is NULL drop."""
    ref_packed, sp_packed = pair
    rf = ref_packed.query("nested.t > 2").dropna(subset=["nested"])
    sf = sp_packed.query("nested.t > 2").dropna(subset=["nested"])
    r = _ref_cells(rf)
    s = _sp_cells(sf)
    assert r == s
    assert len(r) == 2  # keys 0 (emptied) and 3 (childless) dropped


def test_drop_missing_nested_field_raises_parity(ref, pair):
    """Dropping a missing sub-column raises KeyError in BOTH engines
    (reference test_delitem_base_and_nested)."""
    ref_packed, sp_packed = pair
    with pytest.raises(KeyError):
        rf = ref_packed.copy()
        del rf["nested.not_a_field"]
    with pytest.raises(KeyError):
        sp_packed.drop("nested.not_a_field")
    with pytest.raises(KeyError):
        sp_packed.drop("not_a_column")


def test_nest_lists_non_list_raises_parity(ref, spark):
    """nest_lists of a non-list column raises ValueError in BOTH engines
    (reference test_nest_lists)."""
    import pandas as _pd

    rnf = ref.NestedFrame({"a": [1], "b": [[1, 2]], "d": ["dog"]})
    with pytest.raises(ValueError):
        rnf.nest_lists(columns=["b", "d"], name="nested")

    from nested_pandas_spark import NestedFrame
    from nested_pandas_spark.operators.packer import nest_lists

    sdf = spark.createDataFrame([(1.0, [1.0, 2.0], "dog")],
                                "a double, b array<double>, d string")
    with pytest.raises(ValueError):
        nest_lists(sdf, columns=["b", "d"], name="nested")


def test_query_backtick_special_nested_field_parity(ref, spark):
    """Backticked non-identifier nested field names in query (reference
    test_query_on_non_identifier_columns, GH#176)."""
    import pandas as _pd

    rnf = ref.NestedFrame({"dog": [1, 2, 3], "good dog": [2, 4, 6]},
                          index=[0, 1, 2])
    rchild = _pd.DataFrame(
        {"n/a": [0, 2, 4, 1, 4, 3, 1, 4, 1], "n/b": [5, 4, 7, 5, 3, 1, 9, 3, 4]},
        index=[0, 0, 0, 1, 1, 1, 2, 2, 2])
    rnf = rnf.join_nested(rchild, "bad dog")
    r_kept = int(rnf.query("`bad dog`.`n/a` > 2")["bad dog"].nest["n/a"].size)

    from nested_pandas_spark import NestedFrame

    sbase = spark.createDataFrame([(0, 1, 2), (1, 2, 4), (2, 3, 6)],
                                  "id long, dog long, `good dog` long")
    schild = spark.createDataFrame(
        [(0, 0, 5), (0, 2, 4), (0, 4, 7), (1, 1, 5), (1, 4, 3), (1, 3, 1),
         (2, 1, 9), (2, 4, 3), (2, 1, 4)],
        "id long, `n/a` long, `n/b` long")
    snf = NestedFrame(sbase).join_nested(schild, "bad dog", on="id")
    out = snf.query("`bad dog`.`n/a` > 2")
    s_kept = sum(0 if r["bad dog"] is None else len(r["bad dog"])
                 for r in out.df.collect())
    assert s_kept == r_kept == 4
