"""Sizing-heuristic tests — pure math, no session needed (plus one live
conf-application check)."""

from nested_pandas_spark.plans.inspect import plan_nodes
from nested_pandas_spark.tuning import (
    GiB,
    MiB,
    apply_scale_conf,
    arrow_batch_rows_for,
    max_partition_bytes_for,
    salt_factor_for,
    shuffle_partitions_for,
)


def test_shuffle_partitions_scales_with_bytes():
    assert shuffle_partitions_for(10 * GiB, total_cores=32) == 80
    # 100 TB hits the scheduler cap, not 800k tasks
    assert shuffle_partitions_for(100 * (1 << 40), total_cores=1000) == 200_000
    # tiny shuffles still feed every core twice over
    assert shuffle_partitions_for(1 * MiB, total_cores=32) == 64


def test_max_partition_bytes_shrinks_when_memory_tight():
    roomy = max_partition_bytes_for(64 * GiB, cores_per_executor=8)
    tight = max_partition_bytes_for(4 * GiB, cores_per_executor=8)
    assert roomy == 1 * GiB  # capped
    assert tight < roomy
    assert tight >= 16 * MiB  # floor


def test_salt_factor():
    assert salt_factor_for(1_000_000) == 1  # under budget: no salt
    assert salt_factor_for(5_000_000_000) == 1000
    assert salt_factor_for(10**13) == 1024  # capped


def test_arrow_batch_rows():
    assert arrow_batch_rows_for(10_000) == 6710  # ~10KB text rows
    assert arrow_batch_rows_for(5 * MiB) == 64  # media payloads hit floor
    assert arrow_batch_rows_for(10) == 100_000  # narrow rows hit cap


def test_apply_scale_conf_sets_runtime_knobs(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        applied = apply_scale_conf(spark, shuffle_bytes=10 * GiB, avg_row_bytes=10_000)
        assert applied["spark.sql.shuffle.partitions"] == spark.conf.get(
            "spark.sql.shuffle.partitions"
        )
        assert int(applied["spark.sql.execution.arrow.maxRecordsPerBatch"]) == 6710
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_ensure_parallelism_rescue_decision(spark, tmp_path):
    """The small-input rescue widens only a local scan with too few splits,
    to the data-sized width; many-file scans (tiny files included, which
    still plan at least the early-return floor of scan partitions),
    in-memory frames and streaming frames come back as the same object."""
    import os

    from nested_pandas_spark.session import default_parallelism
    from nested_pandas_spark.tuning import _ensure_parallelism, rescue_width_for

    cores = default_parallelism(spark)
    rows = spark.range(20_000).selectExpr("id", "rand(7) AS x")

    one = str(tmp_path / "one")
    rows.coalesce(1).write.parquet(one)
    df = spark.read.parquet(one)
    (part,) = df.inputFiles()
    size = os.path.getsize(part.removeprefix("file:"))
    root = next(plan_nodes(_ensure_parallelism(df), "analyzed"))
    # a shuffling repartition to the data-sized width
    assert root.name == "Repartition"
    assert root.text == f"Repartition {rescue_width_for(size, cores)}, true"

    many = str(tmp_path / "many")
    rows.repartition(max(2, cores // 2)).write.parquet(many)
    wide = spark.read.parquet(many)
    assert len(wide.inputFiles()) >= max(2, cores // 2)
    assert _ensure_parallelism(wide) is wide

    # tiny files: Spark's small-file packing (openCostInBytes) merges them
    # into fewer splits, but never below the early-return floor, so a scan
    # returned unchanged is never about one task wide
    floor = max(2, cores // 2)
    for n_files in (floor, 8 * cores):
        tiny = str(tmp_path / f"tiny{n_files}")
        spark.range(n_files, numPartitions=n_files).write.parquet(tiny)
        df = spark.read.parquet(tiny)
        assert len(df.inputFiles()) == n_files
        assert _ensure_parallelism(df) is df
        assert df.rdd.getNumPartitions() >= floor

    mem = spark.createDataFrame([(1, 2.0)], "id long, x double")
    assert _ensure_parallelism(mem) is mem

    stream = spark.readStream.format("rate").load()
    assert _ensure_parallelism(stream) is stream
