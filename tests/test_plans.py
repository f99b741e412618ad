"""Plan-shape assertions: the optimizations this engine promises must be
visible in the physical plan, not just fast by accident.

These tests guard the PendingPack rewrite rules (plans/lazy_pack.py) and the
Catalyst behaviors the design relies on.
"""

import re

import pytest

from nested_pandas_spark import NestedFrame
from nested_pandas_spark.plans.inspect import find_nodes, plan_nodes, plan_summary
from pyspark.sql import functions as F


@pytest.fixture()
def pending(spark, objects, sources):
    return NestedFrame(objects).join_nested(sources, "nested", on="id")


def test_count_only_prunes_collect_list(pending):
    out = pending.count_nested("nested").df.select("id", "n_nested")
    assert not find_nodes(out, text="collect_list")


def test_agg_only_prunes_collect_list(pending):
    out = pending.nest_agg("nested", "flux", "mean", alias="m").df.select("id", "m")
    assert not find_nodes(out, text="collect_list")
    assert find_nodes(out, "Aggregate", text="avg(flux")


def test_array_use_keeps_collect_list(pending):
    out = pending.count_nested("nested").df.select("id", "n_nested", F.size("nested"))
    assert find_nodes(out, "Aggregate", text="collect_list")


def test_element_filter_below_aggregate(pending):
    out = pending.query("nested.flux > 5.0")
    filters = [n for n in find_nodes(out.df, "Filter")
               if re.search(r"flux#\d+ > 5\.0", n.text)]
    assert filters
    assert all(any("Aggregate" in a for a in n.ancestors) for n in filters)


def test_base_filter_before_join(pending):
    # the base filter must appear on the scan side, not above the join
    filters = find_nodes(pending.query("a > 0.5").df, "Filter", text="a#")
    assert filters
    assert all(any("Join" in a for a in n.ancestors) for n in filters)


def test_flatten_skips_aggregation(pending):
    out = pending.to_flat("nested")
    assert not find_nodes(out.df, text="collect_list")
    assert find_nodes(out.df, "Join")


def test_narrowed_fields_not_packed(pending):
    out = pending.select_nested_fields("nested", ["t"])
    aggs = find_nodes(out.df, text="collect_list")
    assert aggs and all("flux" not in n.text for n in aggs)


def test_single_shuffle_for_pack(spark, objects, sources):
    """The child shuffles exactly once: aggregation exchange; join reuses it
    (or broadcasts)."""
    out = NestedFrame(objects).join_nested(sources, "nested", on="id").df
    # at most: one child exchange + one base exchange (sort-merge) or a
    # broadcast exchange; never two child-side hash exchanges
    assert len(find_nodes(out, "Exchange", text="hashpartitioning")) <= 2


def test_eval_pushdown_keeps_pack_pending(pending):
    """eval on a pending nest adds the field to the flat child; a following
    reduce then computes in the pack's groupBy with collect_list pruned."""
    out = pending.eval("nested.double_flux = nested.flux * 2")
    reduced = out.nest_agg("nested", "double_flux", "sum", alias="s")
    assert not find_nodes(reduced.df.select("id", "s"), text="collect_list")
    rows = {r["id"]: r["s"] for r in reduced.df.select("id", "s").collect()}
    assert rows[0] == pytest.approx(2 * (0.0 + 1.0 + 2.0))


def test_eval_replace_guard(pending):
    """Replacing a field after a pushed predicate must NOT reorder: the
    eager path takes over and results stay correct."""
    q = pending.query("nested.flux > 1.0")
    replaced = q.eval("nested.flux = nested.flux * 0")
    rows = {r["id"]: r["nested"] for r in replaced.df.collect()}
    # elements were filtered on the ORIGINAL flux, then zeroed
    assert rows[0] is not None and len(rows[0]) == 1
    assert rows[0][0]["flux"] == 0.0


def test_sort_pushdown_into_pack(pending):
    out = pending.sort_values("nested.flux", ascending=False)
    # the sort landed in the pending spec (applied inside the pack), and the
    # pack stays deferred for further pushdowns
    assert out._pending["nested"].sort_within == [("flux", False)]
    rows = {r["id"]: [e["flux"] for e in r["nested"]] for r in out.df.collect()}
    assert rows[0] == [2.0, 1.0, 0.0]


def test_zorder_value_matches_python_morton(spark):
    from nested_pandas_spark.sources.zorder import zorder_sql, zorder_value

    def morton(x, y, bits=16):
        m = (1 << bits) - 1
        x, y = x & m, y & m
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    rows = [(0, 0), (1, 0), (0, 1), (3, 5), (65535, 65535), (-1, 7), (40000, 123)]
    df = spark.createDataFrame(rows, "x long, y long")
    got = [
        r["z"]
        for r in df.select(zorder_value(["x", "y"]).alias("z"))
        .orderBy("x", "y")
        .collect()
    ]
    want = [morton(x, y) for x, y in sorted(rows)]
    assert got == want
    # the SQL-string form computes the identical value
    got_sql = [
        r["z"]
        for r in df.selectExpr(f"{zorder_sql(['x', 'y'])} AS z", "x", "y")
        .orderBy("x", "y")
        .collect()
    ]
    assert got_sql == want


def test_write_zordered_skips_row_groups(spark, tmp_path):
    """Z-ordered layout: a point filter on either interleaved column must
    touch a minority of parquet row groups (min/max pruning evidence)."""
    import glob

    import pyarrow.parquet as pq

    from nested_pandas_spark.sources.zorder import write_zordered

    df = spark.range(0, 40000).select(
        (F.col("id") % 200).alias("a"),
        (F.col("id") / 200).cast("long").alias("b"),
        F.col("id").alias("payload"),
    )
    path = str(tmp_path / "z")
    write_zordered(
        df, path, ["a", "b"], bits=8,
        **{"parquet.block.size": "65536"},
    )
    spans = []  # (a_min, a_max, b_min, b_max) per row group
    for f in glob.glob(path + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            cols = {
                md.row_group(rg).column(i).path_in_schema:
                    md.row_group(rg).column(i).statistics
                for i in range(md.row_group(rg).num_columns)
            }
            spans.append(
                (cols["a"].min, cols["a"].max, cols["b"].min, cols["b"].max)
            )
    assert len(spans) >= 8, f"need multiple row groups, got {len(spans)}"
    hit_a = sum(1 for lo, hi, _, _ in spans if lo <= 7 <= hi)
    hit_b = sum(1 for _, _, lo, hi in spans if lo <= 7 <= hi)
    assert hit_a <= len(spans) / 2, (hit_a, len(spans))
    assert hit_b <= len(spans) / 2, (hit_b, len(spans))
    # and the data itself round-trips
    assert spark.read.parquet(path).count() == 40000


def test_plan_summary_counts(spark):
    """Exact counts, the same before and after the frame runs."""
    from nested_pandas_spark.operators.packer import pack

    df = spark.createDataFrame([(1, 2.0), (1, 3.0), (2, 1.0)],
                               "k long, v double")
    packed = pack(df, "items", on="k")
    for _ in ("planned", "executed"):
        s = plan_summary(packed)
        assert (s["exchanges"], s["scans"]) == (1, 1)  # the pack's one shuffle
        assert s["cartesian"] == 0 and s["python_evals"] == 0
        packed.collect()

    # a broadcast join registers under broadcasts, not exchanges
    dim = spark.createDataFrame([(1, "a")], "k long, tag string")
    s2 = plan_summary(df.join(F.broadcast(dim), "k"))
    assert (s2["broadcasts"], s2["exchanges"]) == (1, 0)

    # a crossJoin is flagged
    s3 = plan_summary(df.crossJoin(dim.select("tag")))
    assert s3["cartesian"] == 1


def test_plan_summary_pushed_filters(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    spark.range(100).withColumnRenamed("id", "x").write.parquet(p)
    s = plan_summary(spark.read.parquet(p).where("x > 50"))
    assert s["pushed_filters"] == 1
    assert s["scans"] == 1


def test_walker_descends_into_query_stages(spark):
    """After execution AQE wraps the shuffle in a ShuffleQueryStage; the walk
    finds the same exchange inside it."""
    df = spark.range(100).groupBy((F.col("id") % 3).alias("g")).count()

    def exchanges():
        return [(re.sub(r"plan_id=\d+", "", n.text), n.ancestors)
                for n in find_nodes(df, "ShuffleExchange")]

    [(before, before_up)] = exchanges()
    df.collect()
    [(after, after_up)] = exchanges()
    assert before == after
    assert "ShuffleQueryStage" not in before_up
    assert after_up[0] == "AdaptiveSparkPlan" and "ShuffleQueryStage" in after_up


def test_walker_descends_into_reused_exchange(spark):
    agg = spark.range(200).groupBy((F.col("id") % 7).alias("k")).count()
    joined = agg.alias("a").join(agg.alias("b"), "k")
    joined.collect()
    nodes = list(plan_nodes(joined))
    reused = [i for i, n in enumerate(nodes) if n.name == "ReusedExchange"]
    assert reused
    child = nodes[reused[0] + 1]
    assert child.name == "ShuffleExchange" and child.ancestors[-1] == "ReusedExchange"
    assert child.materialized
    # the reused shuffle is counted once
    assert plan_summary(joined)["exchanges"] == 1


def test_walker_reads_scan_metadata(spark, tmp_path):
    p = str(tmp_path / "part")
    spark.range(20).select(F.col("id").alias("x"), (F.col("id") % 2).alias("p")) \
        .write.partitionBy("p").parquet(p)
    v1_sources = spark.conf.get("spark.sql.sources.useV1SourceList")
    try:
        for sources, name in ((v1_sources, "FileSourceScan"), ("", "BatchScan")):
            spark.conf.set("spark.sql.sources.useV1SourceList", sources)
            [scan] = find_nodes(
                spark.read.parquet(p).where("p = 1 AND x > 5").select("x"), "Scan")
            assert scan.name == name
            assert "GreaterThan(x,5)" in scan.meta["PushedFilters"]
            assert re.search(r"\(p#\d+ = 1\)", scan.meta["PartitionFilters"])
            assert scan.meta["ReadSchema"] == "struct<x:bigint>"
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", v1_sources)


def test_walker_descends_into_cached_plan(spark):
    cached = spark.range(50).groupBy((F.col("id") % 3).alias("g")).count().cache()
    try:
        cached.count()
        out = cached.where("g > 0")
        [shuffle] = find_nodes(out, "ShuffleExchange")
        assert "InMemoryTableScan" in shuffle.ancestors and shuffle.materialized
        s = plan_summary(out)
        assert (s["exchanges"], s["scans"]) == (0, 1)
    finally:
        cached.unpersist(blocking=True)


def test_walker_logical_plans(spark):
    df = spark.range(10).repartition(3).where("id > 2")
    assert [(n.name, n.ancestors) for n in plan_nodes(df, "analyzed")] == [
        ("Filter", ()), ("Repartition", ("Filter",)),
        ("Range", ("Filter", "Repartition"))]
    # the optimizer pushes the filter below the repartition
    assert [n.name for n in plan_nodes(df, "optimized")] == \
        ["Repartition", "Filter", "Range"]
