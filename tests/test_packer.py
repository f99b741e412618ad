"""Pack / join_nested / from_flat / from_lists tests (reference
test_packer.py + test_nestedframe.py join scenarios)."""

import pytest
from pyspark.sql import functions as F

from nested_pandas_spark import NestedFrame
from nested_pandas_spark.operators.packer import join_nested, pack, from_flat, from_lists
from nested_pandas_spark.plans.inspect import find_nodes


def test_pack_groups(spark, sources):
    out = pack(sources, "nested", on="id", sort_within=["t"])
    rows = {r["id"]: r["nested"] for r in out.collect()}
    assert len(rows) == 3
    assert [e["t"] for e in rows[0]] == [0.0, 1.0, 2.0]
    assert [e["flux"] for e in rows[2]] == [20.0, 21.0, 22.0]


def test_join_nested_left_keeps_childless(spark, objects, sources):
    extra = spark.createDataFrame([(99, 0.0, 0.0)], "id long, a double, b double")
    base = objects.union(extra)
    out = join_nested(base, sources, "nested", on="id", how="left")
    rows = {r["id"]: r["nested"] for r in out.collect()}
    assert rows[99] is None  # childless -> NULL cell (F4 subset)
    assert len(rows[0]) == 3


def test_join_nested_inner_drops_childless(spark, objects, sources):
    extra = spark.createDataFrame([(99, 0.0, 0.0)], "id long, a double, b double")
    out = join_nested(objects.union(extra), sources, "nested", on="id", how="inner")
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2]


def test_pack_rejects_null_keys(spark):
    child = spark.createDataFrame([(None, 1.0), (1, 2.0)], "id long, v double")
    # default: raise at execution, matching the reference's NaN-index error
    with pytest.raises(Exception, match="cannot be used for grouping"):
        pack(child, "n", on="id").collect()
    # opt-out: silently exclude NULL-key rows (SQL equi-join semantics)
    out = pack(child, "n", on="id", drop_null_keys=True)
    assert sorted(r["id"] for r in out.collect()) == [1]


def test_composite_keys(spark):
    base = spark.createDataFrame([(1, 10, "x"), (2, 20, "y")], "k1 int, k2 int, lbl string")
    child = spark.createDataFrame(
        [(1, 10, 1.0), (1, 10, 2.0), (2, 20, 3.0)], "k1 int, k2 int, v double"
    )
    out = join_nested(base, child, "n", on=["k1", "k2"])
    rows = {(r["k1"], r["k2"]): r["n"] for r in out.collect()}
    assert len(rows[(1, 10)]) == 2
    assert len(rows[(2, 20)]) == 1


def test_from_flat(spark, sources):
    out = from_flat(
        sources.withColumn("label", F.concat(F.lit("obj"), "id")),
        base_columns=["label"],
        on="id",
        name="nested",
    )
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["label"] == "obj1"
    assert len(rows[1]["nested"]) == 3


def test_from_lists(spark):
    df = spark.createDataFrame(
        [(1, 7, [1, 2], [10.0, 20.0])], "id int, c int, e array<int>, f array<double>"
    )
    out = from_lists(df, list_columns=["e", "f"], name="nested")
    row = out.collect()[0]
    assert row["id"] == 1 and row["c"] == 7
    assert [x["e"] for x in row["nested"]] == [1, 2]
    assert [x["f"] for x in row["nested"]] == [10.0, 20.0]


def test_from_lists_auto_detect(spark):
    df = spark.createDataFrame([(1, [1], [2.0])], "id int, e array<int>, f array<double>")
    out = from_lists(df)
    assert out.columns == ["id", "nested"]


def test_pack_shuffle_reuse(spark, objects, sources):
    """pack+join on the same key must reuse one exchange (scale invariant)."""
    out = join_nested(objects, sources, "nested", on="id")
    # the packed side shuffles once; base side may shuffle for the sort-merge
    assert len(find_nodes(out, "ShuffleExchange")) <= 2
    assert len(find_nodes(out, "Exchange")) <= 3


def test_from_seq(spark):
    from nested_pandas_spark import NestedFrame

    ndf = NestedFrame.from_seq(
        spark,
        [(0, [{"t": 1.0, "b": "x"}, {"t": 2.0, "b": "y"}]), (1, None)],
    )
    rows = {r["id"]: r["nested"] for r in ndf.collect()}
    assert [e["t"] for e in rows[0]] == [1.0, 2.0]
    assert rows[1] is None


def test_salted_pack_same_result(spark, sources):
    plain = pack(sources, "nested", on="id", sort_within=["t"])
    salted = pack(sources, "nested", on="id", sort_within=["t"], salt=4)
    a = {r["id"]: [e["t"] for e in r["nested"]] for r in plain.collect()}
    b = {r["id"]: [e["t"] for e in r["nested"]] for r in salted.collect()}
    assert a == b


def test_bucketed_pack_no_exchange(spark, tmp_path, sources):
    """Packing a bucketed table on its bucket key must not shuffle."""
    from nested_pandas_spark.sources import read_bucketed, write_bucketed

    spark.sql("DROP TABLE IF EXISTS bucketed_sources")
    write_bucketed(sources, "bucketed_sources", bucket_by="id", num_buckets=4,
                   sort_by="id", path=str(tmp_path / "bucketed_sources"))
    src = read_bucketed(spark, "bucketed_sources")
    packed_df = pack(src, "nested", on="id")
    assert not find_nodes(packed_df, "Exchange")
    assert packed_df.count() == 3


def test_null_key_contract(spark):
    from nested_pandas_spark import NestedFrame

    base = spark.createDataFrame([(1,)], "id long")
    child = spark.createDataFrame([(1, 5.0), (None, 1.0)], "id long, v double")
    # bare pack raises (reference parity); guard sits above pushed filters,
    # so a predicate that removes the NULL-key row first suppresses it
    with pytest.raises(Exception, match="cannot be used for grouping"):
        pack(child, "n", on="id").collect()
    assert pack(child.where("v > 2.0"), "n", on="id").count() == 1
    with pytest.raises(Exception, match="cannot be used for grouping"):
        from_flat(child.withColumnRenamed("v", "w"), [], on="id").collect()
    # join_nested follows SQL join semantics instead: Catalyst infers
    # isnotnull(key) on the child side of the join and prunes NULL-key rows
    # before any pack-level guard could fire, so they drop silently
    ndf = NestedFrame(base).join_nested(child, "n", on="id")
    assert ndf.count() == 1
    assert ndf.query("n.v > 2.0").count() == 1
    lax = NestedFrame(base).join_nested(child, "n", on="id", drop_null_keys=True)
    assert lax.count() == 1


def test_join_nested_right_outer(spark, objects, sources):
    from nested_pandas_spark import NestedFrame

    extra = spark.createDataFrame([(99, 0.0, 99.0, 1.0, "r")], sources.schema)
    src = sources.union(extra)  # child key 99 has no base row
    right = NestedFrame(objects).join_nested(src, "nested", on="id", how="right")
    rows = {r["id"]: r for r in right.df.collect()}
    assert set(rows) == {0, 1, 2, 99}  # all child keys survive
    assert rows[99]["a"] is None  # base cols NULL for unmatched child key
    assert len(rows[99]["nested"]) == 1

    base_extra = spark.createDataFrame([(7, 0.0, 0.0)], objects.schema)
    outer = NestedFrame(objects.union(base_extra)).join_nested(
        src, "nested", on="id", how="outer"
    )
    orows = {r["id"]: r for r in outer.df.collect()}
    assert set(orows) == {0, 1, 2, 7, 99}
    assert orows[7]["nested"] is None  # childless base row keeps NULL cell


def test_salted_pack_spreads_hot_key_across_tasks(spark):
    """CI evidence for the docstring's skew claim (pack salt=): on a
    hot-key child, the salted stage-1 aggregation's per-task input must
    drop by roughly the salt factor.

    Per-task input is measured from the aggregation's own physical
    partitioning: spark_partition_id() AFTER the groupBy shuffle tells us
    which task owned each group, so summing group sizes per partition is
    exactly the rows each reduce task aggregated."""
    from pyspark.sql import functions as F

    # AQE would coalesce this toy shuffle into one partition and hide the
    # physical spread; at real scale the partitions it's balancing are far
    # above the advisory size and stay separate. Scope the observation.
    prev = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    # enough reduce tasks that salt groups rarely collide on one task (the
    # test session runs with 4; a real cluster has hundreds)
    spark.conf.set("spark.sql.shuffle.partitions", "32")

    salt = 8
    hot = spark.range(16000).select(
        F.lit(0).alias("id"), F.col("id").cast("double").alias("v")
    )
    cold = spark.range(1000).select(
        (F.col("id") % 10 + 1).alias("id"), F.col("id").cast("double").alias("v")
    )
    child = hot.union(cold).repartition(8)

    def max_task_rows(grouped):
        return (
            grouped.withColumn("__pid", F.spark_partition_id())
            .groupBy("__pid")
            .agg(F.sum("n").alias("rows"))
            .agg(F.max("rows"))
            .collect()[0][0]
        )

    # plain pack stage: one group per key -> the hot key's task sees all
    # 16000 rows
    plain = max_task_rows(child.groupBy("id").agg(F.count("*").alias("n")))
    assert plain >= 16000

    # salted stage 1 (the shape pack(salt=) builds): (key, salt) groups
    # spread the hot key over ~salt tasks
    salted = max_task_rows(
        child.withColumn("__salt", (F.rand(seed=7) * salt).cast("int"))
        .groupBy("id", "__salt")
        .agg(F.count("*").alias("n"))
    )
    # ~16000/8 = 2000 per task; allow generous slack for hash collisions
    # (several salt groups can land on one reduce task) while still
    # proving a >=2x spread
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    assert salted <= plain / 2, (plain, salted)

    # and the salted operator's RESULT is identical to the plain pack
    from nested_pandas_spark.operators.packer import pack

    a = {
        r["id"]: sorted(e["v"] for e in r["nested"])
        for r in pack(child, "nested", on="id", salt=salt).collect()
    }
    b = {
        r["id"]: sorted(e["v"] for e in r["nested"])
        for r in pack(child, "nested", on="id").collect()
    }
    assert a == b


def test_salted_pack_with_map_payload(spark):
    from pyspark.sql import functions as F

    from nested_pandas_spark.operators.packer import pack

    df = spark.createDataFrame(
        [(1, {"a": "1"}), (1, {"b": "2"}), (2, {"c": "3"})],
        "k long, m map<string,string>",
    )
    out = pack(df, "items", on="k", salt=4)
    sizes = {r["k"]: len(r["items"]) for r in out.collect()}
    assert sizes == {1: 2, 2: 1}
