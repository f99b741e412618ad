"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime re-planning, skew-join handling), Arrow on (fast pandas UDF
path), UTC session timezone (oracle parity), shuffle partitions sized
to the parallelism instead of the 200 default.

At 100 TB these same knobs matter: AQE coalesces post-shuffle
partitions and splits skewed ones; ``spark.sql.files.maxPartitionBytes``
keeps scan tasks bounded; nested-schema pruning keeps parquet reads of
``array<struct>`` columns down to the referenced leaves.
"""

from __future__ import annotations

import os
import sys
import zipimport
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

# The one storage level every operator-owned persist uses: DataFrame.cache()'s
# own level (columnar batches in memory, spilling to local disk).
_LEVEL = StorageLevel.MEMORY_AND_DISK_DESER


def get_spark(app_name: str = "nested-pandas-spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.enableNestedColumnVectorizedReader", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # NOTE (round 11): round 10 floored scan parallelism here
        # (files.minPartitionNum = cores, openCostInBytes = 512 KiB) so
        # small-relative-to-cluster tables fanned out to ~one split per
        # core. The driver's round-10 32-core bench regressed ~21%
        # geomean against round 9 across DOZENS of small-input queries
        # (untouched zero-shuffle ones included) while its 8-core run
        # was healthy — a cluster-wide floor multiplies every tiny scan
        # into `cores` near-empty tasks, and on a contended host that
        # scheduling tax dwarfs the work. REVERTED: operators whose
        # per-row work is heavy enough to justify widening a tiny scan
        # (codecs, register hashing, shingling) apply the data-aware
        # `_ensure_parallelism` rescue at their own boundary instead
        # (tuning.py), sized by input bytes, not cluster width.
        # At 100 TB both choices are identical no-ops: size-based
        # splitting already yields far more splits than cores.
        # session contract: parquet TIMESTAMP(NANOS) columns (one testdata
        # layout of events.ts) read as int64 nanos instead of erroring.
        # Set HERE, at session build, never inside an operator — flipping it
        # mid-session would retype every later parquet read.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python workers import this package too: put the directory it was
        # imported from on their path, so a driver that found it through a
        # ``sys.path`` entry or another cwd needs no install or PYTHONPATH.
        # Spark keeps its own pyspark/py4j archives ahead of this entry.
        .config("spark.executorEnv.PYTHONPATH",
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    )
    spark = builder.getOrCreate()
    try:
        spark.sparkContext.setLogLevel("WARN")
    except Exception:  # Spark Connect: no sparkContext on the client
        pass
    return spark


def drop_zip_finders() -> None:
    """Forget the Python worker's cached zip-archive import finders.

    Called first thing in every function this package hands to Spark
    (``mapInArrow``, ``mapInPandas``, ``applyInPandas``...). Before each
    task a PySpark worker calls ``importlib.invalidate_caches()``, which
    makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
    whole archive directory. A reused worker holds one per imported
    sub-package of ``pyspark.zip`` plus the py4j zip's and the spark-core
    jar's. With those re-reads an identity ``mapInArrow`` over 400k
    elements took 0.47-0.59 s on 4 cores, without them 0.27-0.41 s. A dropped
    entry is re-created from zipimport's directory cache by the next
    import that needs it, so the worker re-reads an archive once, not once
    per task. The root finder of an archive shipped with ``addPyFile`` /
    ``spark.submit.pyFiles`` (under ``SparkFiles.getRootDirectory()``)
    stays, so such archives keep Spark's per-task refresh. Outside a
    Python worker this does nothing.
    """
    from pyspark.core.files import SparkFiles  # absent from Connect-only clients

    if not SparkFiles._is_running_on_worker:
        return
    shipped = os.path.join(SparkFiles.getRootDirectory(), "")
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and (
            finder.prefix or not finder.archive.startswith(shipped)
        ):
            sys.path_importer_cache.pop(path, None)


def default_parallelism(spark: SparkSession) -> int:
    """Cluster parallelism, Spark-Connect-safe.

    Classic sessions report ``sparkContext.defaultParallelism``; Connect
    sessions have no SparkContext, so fall back to the session's shuffle
    partition count (the same knob every wide operator in this package
    sizes against).
    """
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no sparkContext on the client
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df`` for the body of the ``with`` block, then unpersist it.

    The cache lifecycle for a frame that only the operator itself re-reads
    before it returns (a k-means scan, a write-then-count, an edge table).
    A streaming frame is handed back unchanged.
    """
    if df.isStreaming:
        yield df
        return
    df = df.persist(_LEVEL)
    try:
        yield df
    finally:
        df.unpersist()


def snapshot(df: DataFrame) -> DataFrame:
    """``df`` materialized once by an eager ``localCheckpoint``.

    The cache lifecycle for a frame that the returned lazy result re-reads
    on every action (a row-id stamp read from two plan branches, an
    iterative rank or label frame, an LM model table). No safe unpersist
    point exists inside the operator, and a persist would stay in the
    CacheManager for the session lifetime. The checkpoint cuts the
    lineage, cannot be evicted and then recomputed differently (a
    ``monotonically_increasing_id`` stamp would renumber), and its blocks
    are released by the ContextCleaner once the result frames planned on
    it are garbage-collected. A streaming frame is handed back unchanged.
    """
    if df.isStreaming:
        return df
    return df.localCheckpoint(eager=True)


class FrameChain:
    """The state frame of an iterative loop, materialized once per step.

    ``advance(new)`` persists and counts the next state, then unpersists
    the previous one, so step ``k`` never recomputes steps ``1..k-1``;
    every ``checkpoint_every``-th state is a :func:`snapshot` instead, which
    keeps the lineage bounded. ``result()`` hands back the final state as a
    snapshot, never a persisted plan. Leaving the ``with`` block releases
    any state still persisted, also on an error.
    """

    def __init__(self, df: DataFrame, checkpoint_every: int):
        self.df, self._every, self._steps = df, checkpoint_every, 0
        self._held: DataFrame | None = None

    def __enter__(self) -> FrameChain:
        return self

    def __exit__(self, *exc) -> None:
        self._release()

    def advance(self, new: DataFrame) -> None:
        self._steps += 1
        if self._steps % self._every == 0:
            new, held = snapshot(new), None
        else:
            new = held = new.persist(_LEVEL)
            new.count()  # materialize before dropping the parent
        self._release()
        self.df, self._held = new, held

    def result(self) -> DataFrame:
        if self._held is not None:
            self.df = snapshot(self.df)
            self._release()
        return self.df

    def _release(self) -> None:
        if self._held is not None:
            self._held.unpersist()
            self._held = None
