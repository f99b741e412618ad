"""NestedFrame.groupby surface (reference groupby tutorial,
docs/tutorials/groupby_doc.ipynb): count / describe / apply parity plus the
beyond-reference declarative nested agg."""

import pytest
from pyspark.sql import functions as F

from nested_pandas_spark import NestedFrame
from nested_pandas_spark.plans.inspect import find_nodes


@pytest.fixture()
def grouped_frame(spark):
    base = spark.createDataFrame(
        [(0, 0, 1.0), (1, 0, 2.0), (2, 1, 3.0), (3, 1, None)],
        "id long, c long, a double")
    child = spark.createDataFrame(
        [(0, 1.0, 5.0), (0, 2.0, 6.0), (1, 3.0, None), (2, 4.0, 8.0),
         (2, 5.0, 9.0)],
        "id long, t double, flux double")
    # id 3 is childless -> NULL cell
    return NestedFrame(base).join_nested(child, "nested", on="id")


def test_groupby_count(grouped_frame):
    """A nested column counts as one object per row (non-null cells) —
    the tutorial's 'count views nested columns as single objects'."""
    out = {r["c"]: (r["a"], r["nested"])
           for r in grouped_frame.groupby("c").count().collect()}
    assert out == {0: (2, 2), 1: (1, 1)}  # group 1: a has a null, id 3 cell NULL


def test_groupby_min_raises_on_nested(grouped_frame):
    """min/max/mean fail on nested columns exactly as pandas groupby does."""
    for meth in ("min", "max", "mean"):
        with pytest.raises(TypeError, match="nested"):
            getattr(grouped_frame.groupby("c"), meth)()
    # exclude_nest=True computes base columns
    out = {r["c"]: r["a"] for r in
           grouped_frame.groupby("c").min(exclude_nest=True).collect()}
    assert out == {0: 1.0, 1: 3.0}


def test_groupby_nested_key_raises(grouped_frame):
    with pytest.raises(TypeError, match="nested"):
        grouped_frame.groupby("nested")


def test_groupby_agg_nested_no_explode(grouped_frame):
    """Dotted nested agg: flat elements per group, HOF partials, and the
    plan has exactly ONE exchange beyond the pack (no explode node)."""
    gb = grouped_frame.groupby("c")
    out = {r["c"]: (r["nested_flux_min"], r["nested_flux_mean"],
                    r["nested_flux_count"], r["a_max"])
           for r in gb.agg({"nested.flux": ["min", "mean", "count"],
                            "a": "max"}).collect()}
    # group 0: flux 5,6,NULL -> min 5, mean 5.5, count 2; a max 2
    # group 1: flux 8,9 (id 3 NULL cell) -> min 8, mean 8.5, count 2; a max 3
    assert out[0] == (5.0, 5.5, 2, 2.0)
    assert out[1] == (8.0, 8.5, 2, 3.0)
    assert not find_nodes(gb.agg({"nested.flux": "mean"}), "Generate")


def test_groupby_describe_flattens(grouped_frame):
    rows = grouped_frame.groupby("c").describe().collect()
    cols = {r["column"] for r in rows}
    assert "nested.flux" in cols and "a" in cols
    flux0 = [r for r in rows
             if r["column"] == "nested.flux" and r["c"] == 0][0]
    assert flux0["count"] == 2 and flux0["mean"] == pytest.approx(5.5)


def test_groupby_apply(grouped_frame):
    """Custom per-group function via applyInPandas (tutorial mean_flux
    example, computed on the flat child instead of packed cells)."""
    flat = grouped_frame.to_flat("nested", keys=["id"])
    joined = NestedFrame(
        flat.df.join(grouped_frame.df.select("id", "c"), "id"))

    def mean_flux(pdf):
        return pdf.groupby("c", as_index=False).agg(
            mean_flux=("flux", "mean"))

    out = {r["c"]: r["mean_flux"] for r in joined.groupby("c").apply(
        mean_flux, "c long, mean_flux double").collect()}
    assert out[0] == pytest.approx(5.5)
    assert out[1] == pytest.approx(8.5)


def test_groupby_missing_key_raises(grouped_frame):
    with pytest.raises(KeyError):
        grouped_frame.groupby("nope")


def test_groupby_agg_pending_flat_path(spark):
    """On a PENDING pack, agg aggregates the flat child directly — the
    plan contains NO collect_list — and every value (incl. the all-NULL
    and childless edge groups) equals the materialized HOF path."""
    import math

    base = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 1), (3, 1), (4, 2)], "id long, c long")
    child = spark.createDataFrame(
        [(0, 5.0), (0, 6.0), (1, None), (2, 8.0), (3, None)],
        "id long, flux double")
    # group 2 (id 4) is entirely childless; group 1 has id3 all-null
    lazy = NestedFrame(base).join_nested(child, "nested", on="id")
    assert lazy._pending
    flat_out = lazy.groupby("c").agg(
        {"nested.flux": ["min", "max", "sum", "mean", "count"]})
    assert not find_nodes(flat_out, text="collect_list")

    eager = NestedFrame(lazy.df)  # materialized packs -> HOF path
    hof_out = eager.groupby("c").agg(
        {"nested.flux": ["min", "max", "sum", "mean", "count"]})

    def norm(df):
        rows = {}
        for r in df.collect():
            rows[r["c"]] = tuple(
                "NaN" if isinstance(v, float) and math.isnan(v) else v
                for v in (r["nested_flux_min"], r["nested_flux_max"],
                          r["nested_flux_sum"], r["nested_flux_mean"],
                          r["nested_flux_count"]))
        return rows

    f, h = norm(flat_out), norm(hof_out)
    assert f == h
    assert f[0] == (5.0, 6.0, 11.0, 5.5, 2)
    assert f[1] == (8.0, 8.0, 8.0, 8.0, 1)
    assert f[2] == (None, None, None, None, None)  # childless group


def test_groupby_agg_pending_with_pushed_pred(spark):
    """Pushed query() predicates on the pending pack are honored by the
    flat path."""
    base = spark.createDataFrame([(0, 0), (1, 0), (2, 1)], "id long, c long")
    child = spark.createDataFrame(
        [(0, 1.0), (0, 10.0), (1, 20.0), (2, 2.0)], "id long, flux double")
    lazy = (NestedFrame(base).join_nested(child, "nested", on="id")
            .query("nested.flux > 5"))
    out = {r["c"]: (r["nested_flux_count"], r["nested_flux_sum"])
           for r in lazy.groupby("c").agg(
               {"nested.flux": ["count", "sum"]}).collect()}
    assert out == {0: (2, 30.0), 1: (None, None)}


def test_groupby_agg_pending_mixed_base_targets(spark):
    """Base-column aggregates ride the base alone (no fan-out through the
    child join), stitched to the flat nested aggs."""
    base = spark.createDataFrame(
        [(0, 0, 1.0), (1, 0, 3.0), (2, 1, 5.0)], "id long, c long, a double")
    child = spark.createDataFrame(
        [(0, 2.0), (0, 4.0), (1, 6.0)], "id long, flux double")
    lazy = NestedFrame(base).join_nested(child, "nested", on="id")
    out = {r["c"]: (r["a_mean"], r["nested_flux_mean"])
           for r in lazy.groupby("c").agg(
               {"a": "mean", "nested.flux": "mean"}).collect()}
    # a_mean group 0 = (1+3)/2 = 2.0 (NOT weighted by child count)
    assert out[0] == (2.0, 4.0)
    assert out[1][0] == 5.0 and out[1][1] is None
