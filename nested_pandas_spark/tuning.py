"""Sizing heuristics for running the engine at cluster scale.

Pure functions (unit-testable without a session) encoding the rules of
thumb the rest of the engine assumes, plus ``apply_scale_conf`` to set the
runtime-settable knobs on a live session and ``_ensure_parallelism``, the
small-input parallelism rescue the CPU-heavy per-row operators share.
Numbers follow standard Spark sizing practice: ~128 MiB scan splits,
shuffle partitions sized so a partition fits comfortably in a task's memory
share, AQE left on to coalesce or split at runtime when the estimates are
off.

At 100 TB the difference between "works" and "falls over" is usually one of
these knobs: a shuffle with 200 default partitions puts 500 GB in each task;
a per-row Arrow batch of 10k wide media rows OOMs the Python worker. The
helpers make the arithmetic explicit instead of folklore.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

MiB = 1 << 20
GiB = 1 << 30

__all__ = [
    "shuffle_partitions_for",
    "max_partition_bytes_for",
    "salt_factor_for",
    "arrow_batch_rows_for",
    "rescue_width_for",
    "apply_scale_conf",
]


def rescue_width_for(
    input_bytes: int,
    total_cores: int,
    bytes_per_task: int = 64 * 1024,
) -> int:
    """Width of the small-input parallelism rescue (``_ensure_parallelism``).

    A tiny splittable input (one undersized parquet row group) arrives as
    ONE scan task; CPU-heavy per-row stages (codecs, register hashing,
    shingling) then run single-threaded. The rescue round-robins the rows
    wider — but a repartition to the FULL core count schedules
    ``total_cores`` map+reduce tasks regardless of how little work there
    is, and the round-10 driver bench showed that tax exceeding the win on
    a contended 32-core host (cms_sketch 1.18 -> 7.25 s). So the width is
    sized by the DATA: one task per ~``bytes_per_task`` of compressed
    input (64 KiB default — these stages do 10-100x more per-byte work
    than a plain scan, so even small slices keep a core busy), floored at
    2, capped at the core count. At scale the rescue never fires at all
    (inputs split naturally), so this heuristic only shapes the
    small-input case it exists for.

    Examples
    --------
    >>> rescue_width_for(600 * 1024, 32)  # 600 KiB corpus -> ~10 tasks
    10
    >>> rescue_width_for(64 * 2**20, 32)  # big input: full width
    32
    >>> rescue_width_for(10, 32)  # floor
    2
    """
    want = -(-input_bytes // max(bytes_per_task, 1))  # ceil div
    return int(max(2, min(want, max(total_cores, 2))))


def _conf_bytes(raw: str) -> int:
    """Parse a Spark size conf ('134217728', '128m', '1g') to bytes."""
    s = raw.strip().lower().removesuffix("b")
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suffix):
            s, mult = s[:-1], m
            break
    return int(float(s) * mult)


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition when the scan would yield fewer partitions
    than cores. CPU-bound per-row stages (shingle hashing, sketch
    registers, media codecs) on a small parquet file arrive as ONE split
    and would run single-threaded. At real scale files exceed
    maxPartitionBytes and split naturally — this only rescues the
    small-input case, at the cost of one cheap shuffle of the input rows.

    The rescue width is DATA-sized, not cluster-sized
    (:func:`rescue_width_for` at its 64 KiB-per-task default): a
    repartition to the full core count schedules ``cores`` map+reduce
    tasks however little work exists, and the round-10 driver bench
    showed that tax exceeding the win on a contended 32-core host.

    Connect-safe: estimates the scan's split count from ``df.inputFiles()``
    + driver-visible file sizes instead of probing ``df.rdd`` (which forces
    a plan->RDD conversion and does not exist under Spark Connect).
    Non-local URIs and in-memory relations are assumed already parallel —
    at scale that is the case this heuristic exists to NOT touch.
    Streaming frames are returned unchanged (no ``inputFiles()``, and
    micro-batch parallelism is the source's concern).
    """
    from .session import default_parallelism

    if df.isStreaming:
        return df
    spark = df.sparkSession
    target = default_parallelism(spark)
    files = df.inputFiles()
    if not files:
        return df  # in-memory relation: creator already chose partitioning
    max_pb = _conf_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    est_splits = 0
    total_bytes = 0
    for f in files:
        path = f.removeprefix("file:")
        if "://" in f and not f.startswith("file:"):
            return df  # remote store: big-data layout, splits naturally
        try:
            size = os.path.getsize(path)
        except OSError:
            size = max_pb
        total_bytes += size
        est_splits += max(1, -(-size // max_pb))
        if est_splits >= max(2, target // 2):
            return df
    width = rescue_width_for(total_bytes, target)
    if width <= est_splits:
        return df  # the scan already yields that many data-carrying splits
    return df.repartition(width)


def shuffle_partitions_for(
    shuffle_bytes: int,
    target_partition_bytes: int = 128 * MiB,
    total_cores: int = 32,
    max_partitions: int = 200_000,
) -> int:
    """Partition count for a shuffle of ``shuffle_bytes``.

    Sized so each partition is ~``target_partition_bytes`` (fits in a task's
    memory share with room for sort/agg overhead), floored at 2x the core
    count so every core gets work even after AQE coalescing, capped so the
    scheduler doesn't drown in empty tasks.

    100 TB shuffle, 128 MiB targets -> ~800k raw, capped to 200k: at that
    point raise ``target_partition_bytes`` instead (1 GiB -> 100k tasks) —
    fewer, larger, still-spillable partitions beat scheduler overload.

    Examples
    --------
    >>> shuffle_partitions_for(100 * 2**40)  # 100 TiB shuffle
    200000
    >>> shuffle_partitions_for(2**30)  # 1 GiB floors at 2x cores
    64
    """
    want = -(-shuffle_bytes // target_partition_bytes)  # ceil div
    return max(min(want, max_partitions), 2 * total_cores, 1)


def max_partition_bytes_for(
    executor_memory_bytes: int,
    cores_per_executor: int,
    memory_fraction: float = 0.6,
    working_multiplier: int = 4,
) -> int:
    """Scan-split size such that ``cores_per_executor`` concurrent tasks fit.

    Each in-flight task needs roughly ``working_multiplier`` times its input
    split in working memory (decoded columnar + operator state). With the
    default 0.6 unified-memory fraction: 64 GiB executor, 8 cores ->
    ~1.2 GiB budget/task -> ~300 MiB splits; the conservative default stays
    at Spark's 128 MiB unless memory is tight, in which case it SHRINKS.
    """
    budget_per_task = (executor_memory_bytes * memory_fraction) / max(
        cores_per_executor, 1
    )
    split = int(budget_per_task / working_multiplier)
    return max(min(split, 1 * GiB), 16 * MiB)


def salt_factor_for(
    hottest_key_rows: int,
    target_rows_per_task: int = 5_000_000,
    max_salt: int = 1024,
) -> int:
    """Two-stage-aggregation salt for a skewed pack key (``pack(salt=)``).

    A key with 5 B rows and a 5 M-row task budget wants ~1000 salts; keys
    under the budget return 1 (no salting — the extra stage costs more than
    it saves). AQE's skew-join split handles JOIN skew; this handles the
    groupBy/collect_list side, which AQE cannot split mid-aggregate.

    Examples
    --------
    >>> salt_factor_for(5_000_000_000)
    1000
    >>> salt_factor_for(1000)
    1
    """
    if hottest_key_rows <= target_rows_per_task:
        return 1
    return min(-(-hottest_key_rows // target_rows_per_task), max_salt)


def arrow_batch_rows_for(
    avg_row_bytes: int,
    target_batch_bytes: int = 64 * MiB,
    min_rows: int = 64,
    max_rows: int = 100_000,
) -> int:
    """``spark.sql.execution.arrow.maxRecordsPerBatch`` for a given row width.

    map_rows/mapInPandas hold one decoded Arrow batch per worker in memory:
    10 KB text rows -> ~6.5k rows/batch; 5 MB media payload rows -> 13
    rows/batch. The floor keeps per-batch Python overhead amortized, the cap
    bounds JVM-side buffering for narrow rows.
    """
    rows = target_batch_bytes // max(avg_row_bytes, 1)
    return int(max(min(rows, max_rows), min_rows))


def apply_scale_conf(
    spark,
    shuffle_bytes: int | None = None,
    avg_row_bytes: int | None = None,
    executor_memory_bytes: int | None = None,
    cores_per_executor: int | None = None,
) -> dict[str, str]:
    """Set the runtime-settable sizing confs on a live session; returns what
    was set. Only touches knobs derivable from the provided facts."""
    applied: dict[str, str] = {}

    def _set(key: str, value: object) -> None:
        spark.conf.set(key, str(value))
        applied[key] = str(value)

    from .session import default_parallelism

    total_cores = default_parallelism(spark)
    if shuffle_bytes is not None:
        _set(
            "spark.sql.shuffle.partitions",
            shuffle_partitions_for(shuffle_bytes, total_cores=total_cores),
        )
    if avg_row_bytes is not None:
        _set(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            arrow_batch_rows_for(avg_row_bytes),
        )
    if executor_memory_bytes is not None and cores_per_executor is not None:
        _set(
            "spark.sql.files.maxPartitionBytes",
            max_partition_bytes_for(executor_memory_bytes, cores_per_executor),
        )
    return applied
