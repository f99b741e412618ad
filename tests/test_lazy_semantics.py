"""Program-order semantics of the lazy-pack layer (round-2 ADVICE fixes).

A PendingPack accumulates rewrites (preds, aggs) without materializing; these
tests pin down that the rewrites never change what the eager path computes:

* count_nested THEN query  -> counts see PRE-filter elements (pushdown refused)
* query on a pending agg alias (n_*) compiles and filters correctly
* count_nested THEN to_flat/explode keeps the agg column
* data-derived category literals survive backslashes (SQL injection-safety)
"""

import pytest

from nested_pandas_spark import NestedFrame
from nested_pandas_spark.plans.inspect import find_nodes


@pytest.fixture()
def pending(spark, objects, sources):
    return NestedFrame(objects).join_nested(sources, "nested", on="id")


def _rows(ndf):
    return sorted(map(tuple, ndf.df.collect()))


def test_count_then_query_counts_prefilter(pending):
    # flux > 5.0 keeps 0 of 3 elements for id=0, some for id=1,2; the count
    # registered BEFORE the query must still be the pre-filter count (3)
    out = pending.count_nested("nested").query("nested.flux > 5.0")
    counts = {r["id"]: r["n_nested"] for r in out.df.collect()}
    assert counts == {0: 3, 1: 3, 2: 3}
    cells = {r["id"]: r["nested"] for r in out.df.collect()}
    assert cells[0] is None  # all elements filtered -> NULL cell
    assert len(cells[2]) == 3  # flux 20,21,22 all > 5


def test_count_then_query_matches_eager(pending):
    lazy = pending.count_nested("nested").query("nested.flux > 5.0")
    eager = NestedFrame(pending.df).count_nested("nested").query("nested.flux > 5.0")
    assert lazy.df.columns == eager.df.columns
    assert _rows(lazy) == _rows(eager)


def test_query_then_count_still_pushes_down(pending):
    # the reverse order (query then count) is the safe pushdown: counts are
    # post-filter on both paths
    lazy = pending.query("nested.flux > 5.0").count_nested("nested")
    eager = NestedFrame(pending.df).query("nested.flux > 5.0").count_nested("nested")
    assert _rows(lazy) == _rows(eager)


def test_query_on_pending_agg_alias(pending):
    out = pending.count_nested("nested").query("n_nested >= 3")
    assert out.count() == 3
    assert pending.count_nested("nested").query("n_nested > 3").count() == 0


def test_eval_on_pending_agg_alias(pending):
    out = pending.count_nested("nested").eval("doubled = n_nested * 2")
    assert {r["doubled"] for r in out.df.collect()} == {6}


def test_flatten_keeps_registered_aggs(pending):
    lazy = pending.count_nested("nested").to_flat("nested")
    assert "n_nested" in lazy.columns
    eager = NestedFrame(pending.df).count_nested("nested").to_flat("nested")
    assert sorted(lazy.columns) == sorted(eager.columns)
    cols = sorted(lazy.columns)
    lrows = sorted(map(tuple, lazy.df.select(*cols).collect()))
    erows = sorted(map(tuple, eager.df.select(*cols).collect()))
    assert lrows == erows
    # the rewrite must still avoid building any array
    assert not find_nodes(lazy.df, text="collect_list")


def test_explode_keeps_registered_aggs(pending):
    out = pending.nest_agg("nested", "flux", "mean", alias="mf").explode("nested")
    assert "mf" in out.columns
    vals = {r["id"]: r["mf"] for r in out.df.collect()}
    assert vals[0] == pytest.approx(1.0)  # mean(0,1,2)


def test_backslash_category_literal(spark):
    # category value ending in a backslash must not escape the closing quote
    base = spark.createDataFrame([(0,)], "id long")
    child = spark.createDataFrame(
        [(0, 1.0, "r\\"), (0, 2.0, "g")], "id long, flux double, band string"
    )
    ndf = NestedFrame(base).join_nested(child, "nested", on="id")
    counted = ndf.count_nested("nested", by="band")
    row = counted.df.collect()[0]
    assert row["n_nested_r\\"] == 1
    assert row["n_nested_g"] == 1
    # eager path too
    eager = NestedFrame(ndf.df).count_nested("nested", by="band")
    erow = eager.df.collect()[0]
    assert erow["n_nested_r\\"] == 1
    # and split
    from nested_pandas_spark import split

    sp = split(ndf.df, "nested", by="band")
    srow = sp.collect()[0]
    assert len(srow["nested_r\\"]) == 1


def test_fillna_pushdown_keeps_pack_pending(spark, objects):
    child = spark.createDataFrame(
        [(0, 1.0), (0, None), (1, None), (2, 5.0)], "id long, flux double"
    )
    ndf = NestedFrame(objects).join_nested(child, "nested", on="id")
    filled = ndf.fillna({"nested.flux": -1.0})
    # still lazy: a subsequent count prunes the collect_list entirely
    out = filled.count_nested("nested").df.select("id", "n_nested")
    assert not find_nodes(out, text="collect_list")
    # values match the eager path
    lazy_cells = {r["id"]: r["nested"] for r in filled.df.collect()}
    eager = NestedFrame(ndf.df).fillna({"nested.flux": -1.0})
    eager_cells = {r["id"]: r["nested"] for r in eager.df.collect()}
    assert lazy_cells == eager_cells
    assert [e["flux"] for e in lazy_cells[0]] == [1.0, -1.0]


def test_fillna_scalar_pushdown_matches_eager(spark, objects):
    child = spark.createDataFrame(
        [(0, 1.0), (0, None), (2, None)], "id long, flux double"
    )
    ndf = NestedFrame(objects).join_nested(child, "nested", on="id")
    lazy = ndf.fillna(0.0)
    eager = NestedFrame(ndf.df).fillna(0.0)
    assert _rows(lazy) == _rows(eager)


def test_fillna_after_query_materializes_correctly(spark, objects):
    # preds registered before the fill: unfilled values must drive the filter
    child = spark.createDataFrame(
        [(0, 1.0), (0, None), (2, 5.0)], "id long, flux double"
    )
    ndf = NestedFrame(objects).join_nested(child, "nested", on="id")
    lazy = ndf.query("nested.flux > 0.5").fillna({"nested.flux": -1.0})
    eager = NestedFrame(ndf.df).query("nested.flux > 0.5").fillna({"nested.flux": -1.0})
    assert _rows(lazy) == _rows(eager)
    # the NULL element was filtered out BEFORE the fill on both paths
    cells = {r["id"]: r["nested"] for r in lazy.df.collect()}
    assert [e["flux"] for e in cells[0]] == [1.0]


def test_base_dropna_stays_lazy(spark, sources):
    base = spark.createDataFrame([(0, 1.0), (1, None), (2, 3.0)], "id long, a double")
    ndf = NestedFrame(base).join_nested(sources, "nested", on="id")
    out = ndf.dropna(subset="a")
    # count through the pending agg path still prunes collect_list
    counted = out.count_nested("nested").df.select("id", "n_nested")
    assert not find_nodes(counted, text="collect_list")
    assert sorted(r["id"] for r in out.df.collect()) == [0, 2]
