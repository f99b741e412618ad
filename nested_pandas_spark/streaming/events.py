"""Structured Streaming operators over event streams.

The reference library is batch-only (SURVEY.md §2.6) — this module is the
beyond-reference streaming surface, built the Spark-native way:

* the SAME transformation functions serve batch DataFrames and streaming
  DataFrames (write once, run either mode);
* event-time windows + watermarks bound state for late data;
* sessionization uses the built-in ``session_window`` (state-store backed,
  scales horizontally); a custom stateful operator example uses
  ``applyInPandasWithState`` for logic windows can't express.

At scale: watermark delay bounds state size; shuffle partitions shard the
state store; ``trigger(availableNow=True)`` gives incremental backfill over
historical data with the same code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import drop_zip_finders

__all__ = [
    "read_event_stream",
    "with_event_time",
    "hourly_rollup",
    "sessionize",
    "running_user_totals",
    "stream_interval_join", "windowed_rollup", "stream_dedup_against",
    "stream_neardup_against", "stream_quality_filter"]

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # int64 nanoseconds (driver layout)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """Stream a directory of event parquet files.

    Streaming reads need an explicit schema; take it from the batch reader's
    footer inference so the stream tracks whatever physical ts layout the
    files use (int64 nanos in one testdata drop, TIMESTAMP(MICROS) in
    another). A driver-side footer read, not a data scan.

    Session contract: if the files carry parquet TIMESTAMP(NANOS), the
    session must already have ``spark.sql.legacy.parquet.nanosAsLong=true``
    (set by :func:`nested_pandas_spark.session.get_spark` and the entry
    contract). This function deliberately does NOT set it here — a conf
    mutation inside an operator would silently retype int64-nano timestamps
    for every later parquet read in the session.
    """
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(path)


def with_event_time(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize the event timestamp to a TIMESTAMP ``event_time`` column.

    Accepts either physical layout: int64 epoch-nanoseconds (truncated to
    Spark's microsecond TIMESTAMP grain) or a native TIMESTAMP /
    TIMESTAMP_NTZ column (cast; wall-clock-exact under the engine's UTC
    session timezone).
    """
    dt = dict(df.dtypes).get(ts_col, "")
    if dt == "bigint":
        # Integer `div`, not float `/`: epoch-nanos (~1.7e18) exceed
        # double's 2^53 exact range, so (ts / 1000).cast("long") truncates
        # ~1.5% of microsecond-grain values to micros-1. `div` stays in
        # 64-bit integer arithmetic and is exact for any epoch value.
        col = F.timestamp_micros(F.expr(f"`{ts_col}` div 1000"))
    else:
        col = F.col(ts_col).cast("timestamp")
    return df.withColumn("event_time", col)


def hourly_rollup(df: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour counts + value stats per event_type.

    Works identically on batch and streaming input; on a stream the
    watermark lets Spark emit finalized windows and drop their state.
    """
    src = with_event_time(df)
    if src.isStreaming:
        src = src.withWatermark("event_time", watermark)
    return src.groupBy(
        F.window("event_time", "1 hour").alias("win"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ).select(
        F.col("win.start").alias("hour_start"), "event_type", "n",
        "min_value", "max_value",
    )


def windowed_rollup(
    df: DataFrame,
    keys: list[str],
    window: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Generalized tumbling-window rollup: counts + value stats per
    (``keys``, window) — :func:`hourly_rollup` is the (event_type, 1 hour)
    instance. Works identically on batch and streaming input; on a stream
    the watermark finalizes windows and bounds state to
    ``|keys| x windows-in-watermark`` entries per partition.

    At 100 TB the shuffle key is (keys, window-start) — time spreads any
    single hot entity across windows, and AQE splits what remains.
    """
    src = with_event_time(df)
    if src.isStreaming:
        src = src.withWatermark("event_time", watermark)
    return src.groupBy(
        F.window("event_time", window).alias("win"), *keys
    ).agg(
        F.count("*").alias("n"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    ).select(
        F.col("win.start").alias("window_start"), *keys, "n",
        "min_value", "max_value",
    )


def sessionize(df: DataFrame, gap: str = "30 minutes",
               watermark: str = "2 hours") -> DataFrame:
    """Session windows per user: built-in ``session_window`` (gap-based).

    Batch or streaming; emits one row per (user, session) with event count
    and value sum.
    """
    src = with_event_time(df)
    if src.isStreaming:
        src = src.withWatermark("event_time", watermark)
    return src.groupBy(
        F.session_window("event_time", gap).alias("sess"), "user_id"
    ).agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    ).select(
        "user_id",
        F.col("sess.start").alias("session_start"),
        F.col("sess.end").alias("session_end"),
        "n_events",
        "sum_value",
    )


def running_user_totals(df: DataFrame, timeout_minutes: int = 60) -> DataFrame:
    """Custom stateful operator: per-user running event count + value total
    via ``applyInPandasWithState`` — the escape hatch for stateful logic that
    windows can't express (the streaming analogue of map_rows).

    State is one (count, total) pair per user; state for idle users expires
    after ``timeout_minutes`` of processing time.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        drop_zip_finders()
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return df.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_cols: list[str],
    lookback: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Stream-stream join: each left event matched to the right events with
    the same ``on`` key whose event time falls in ``(t - lookback, t]`` of
    the left event's time ``t`` (the streaming twin of the batch
    ``operators.asof.range_join`` interval semantics, q34).

    On streams, both sides carry watermarks and the time-range predicate —
    exactly what Spark needs to bound the join state: each side buffers only
    ``watermark + lookback`` of history, evicted as the watermark advances.
    Inner joins emit matches in the microbatch they are found, so
    ``trigger(availableNow=True)`` over historical files yields the complete
    batch answer. On batch DataFrames the same code is a plain equi-join
    with a range filter (Catalyst hashes on ``on``).

    Output: all left columns plus ``event_time``, and each of ``right_cols``
    suffixed ``_right``.
    """
    lw = with_event_time(left, ts_col)
    rw = with_event_time(right, ts_col)
    if lw.isStreaming:
        lw = lw.withWatermark("event_time", watermark)
    if rw.isStreaming:
        rw = rw.withWatermark("event_time", watermark)
    la, ra = lw.alias("l"), rw.alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col("r.event_time") > F.col("l.event_time") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("r.event_time") <= F.col("l.event_time"))
    )
    keep = [F.col(f"l.{c}") for c in lw.columns] + [
        F.col(f"r.{c}").alias(f"{c}_right") for c in right_cols
    ]
    return la.join(ra, cond, "inner").select(*keep)


def stream_dedup(
    df: DataFrame,
    keys: list[str],
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop rows whose ``keys`` repeat within the
    watermark horizon (state-store backed, bounded by the watermark — the
    streaming twin of pipeline.dedup.exact_dedup).

    On a batch DataFrame this degrades to a plain dropDuplicates.
    """
    src = with_event_time(df, ts_col)
    if src.isStreaming:
        return src.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(keys)
    return src.dropDuplicates(keys)


def stream_dedup_against(
    stream: DataFrame,
    ref: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
    broadcast_ref: bool = True,
    within_stream: bool = True,
) -> DataFrame:
    """Continuous-ingest exact dedup: the structured-streaming twin of
    ``pipeline.dedup.dedup_against`` — drop stream rows whose normalized
    fingerprint already exists in the STATIC accepted corpus ``ref``,
    then (``within_stream``) drop repeats arriving within the stream
    itself, so a continuously-growing training corpus admits each
    document exactly once.

    Scale shape: ``ref`` collapses ONCE to DISTINCT fingerprints
    (32-hex-char rows, never text) and joins stream-static LEFT ANTI —
    broadcast by default (at ingest time the accepted-fingerprint set is
    the small, precomputable side; pass ``broadcast_ref=False`` to
    shuffle instead). The in-stream stage is a state-store dedup on the
    fingerprint: with ``ts_col`` given, ``dropDuplicatesWithinWatermark``
    bounds state to the ``watermark`` horizon; with ``ts_col=None`` the
    dedup state is UNBOUNDED (exact forever — right for finite backfills
    via ``trigger(availableNow=True)``; long-lived services should pass
    an event-time column). Which duplicate row survives within the
    stream is arrival-order dependent — the surviving fingerprint SET is
    exact, matching ``dedup_against``'s; batch callers wanting the
    deterministic min-id row should use ``dedup_against`` itself.

    On a batch DataFrame this degrades to the same anti join plus a
    plain ``dropDuplicates`` on the fingerprint.
    """
    from ..pipeline.text import fingerprint

    ref_fp = ref.select(fingerprint(text_col).alias("__fp")).distinct()
    if broadcast_ref:
        ref_fp = F.broadcast(ref_fp)
    src = stream
    if within_stream and ts_col is not None:
        src = with_event_time(src, ts_col)
    out = src.withColumn("__fp", fingerprint(text_col))
    out = out.join(ref_fp, "__fp", "left_anti")
    if within_stream:
        if out.isStreaming and ts_col is not None:
            out = out.withWatermark(
                "event_time", watermark
            ).dropDuplicatesWithinWatermark(["__fp"])
        else:
            out = out.dropDuplicates(["__fp"])
    return out.drop("__fp")


def stream_neardup_against(
    stream: DataFrame,
    ref: DataFrame,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    broadcast_ref: bool = True,
) -> DataFrame:
    """Continuous-ingest NEAR-duplicate dedup: drop stream rows that are
    MinHash-LSH candidates against the static accepted corpus ``ref`` —
    the near-dup complement of :func:`stream_dedup_against` (exact
    fingerprints only), using the same banding as the batch
    ``pipeline.dedup.lsh_candidate_pairs_between`` (a row collides when
    ANY of its ``bands`` signature-band keys appears in the accepted
    corpus).

    Semantics are candidate-grain, deliberately: LSH positives drop
    unverified, matching the recall/precision contract of the batch
    candidate generator — at ingest time a conservative drop is the
    standard choice (an exact-Jaccard verify needs the accepted TEXT,
    which must never ride a stream-static join at scale). Rows too short
    to shingle yield NULL band keys and are always admitted.

    Scale shape: ``ref`` collapses ONCE per band to a DISTINCT band-key
    set (32-hex rows, never text); the stream side is a chain of
    ``bands`` STATELESS stream-static LEFT ANTI joins (broadcast by
    default) — no state store, no watermark, composable with any sink; a
    row survives iff no band collides. Within-stream near-dup needs
    bucket memory the state store can't bound without event time — run
    the batch LSH over the accepted sink periodically for that half.

    On a batch DataFrame this degrades to the same anti-join chain.
    """
    from ..pipeline.dedup import minhash_signature

    rows_per_band = num_hashes // bands

    def band_keys(col) -> "F.Column":
        # ONE let-bound signature evaluation per row (the array(sig) ->
        # transform trick), NULL for un-shingle-able rows so their md5
        # never becomes a shared "empty" bucket
        sig = minhash_signature(col, num_hashes, shingle_n)
        return F.element_at(
            F.transform(
                F.array(sig),
                lambda s: F.when(
                    s.isNotNull(),
                    F.array(*[
                        F.md5(F.concat_ws(",", *[
                            F.element_at(s, b * rows_per_band + i + 1)
                            for i in range(rows_per_band)
                        ]))
                        for b in range(bands)
                    ]),
                ),
            ),
            1,
        )

    out = stream.withColumn("__bk", band_keys(F.col(text_col)))
    ref_bk = ref.select(band_keys(F.col(text_col)).alias("__rbk"))
    for b in range(bands):
        keys_b = (
            ref_bk.select(F.col("__rbk")[b].alias(f"__bk{b}"))
            .where(F.col(f"__bk{b}").isNotNull())
            .distinct()
        )
        if broadcast_ref:
            keys_b = F.broadcast(keys_b)
        out = (
            out.withColumn(f"__bk{b}", F.col("__bk")[b])
            .join(keys_b, f"__bk{b}", "left_anti")
            .drop(f"__bk{b}")
        )
    return out.drop("__bk")


def stream_quality_filter(
    stream: DataFrame,
    weights,
    dim: int = 64,
    text_col: str = "text",
    features: str = "binary",
    threshold: float = 0.5,
    out: str = "clf_score",
) -> DataFrame:
    """Continuous-ingest classifier filtering: apply a trained quality
    classifier (``pipeline.classifier.train_quality_classifier``) to a
    document stream and keep rows scoring at or above ``threshold`` — the
    streaming twin of ``classifier_score(threshold=)``, completing the
    ingest story next to :func:`stream_dedup_against`.

    Built on ``classifier_score_inline``: the weight vector folds into the
    plan as a literal map and the margin is a per-row HOF fold, so the
    whole filter is a STATELESS projection — it composes with any sink,
    watermark, or downstream stateful stage, and the identical code path
    serves batch DataFrames (used by the stream==batch parity test).

    ``weights`` is the trained (bucket, weight) DataFrame or a dict;
    training itself stays a batch job (full-batch GD needs the whole
    corpus) — retrain periodically and restart the query with fresh
    weights, the standard model-refresh pattern for stateless scoring.
    """
    from ..pipeline.classifier import classifier_score_inline

    scored = classifier_score_inline(
        stream, weights, dim=dim, text_col=text_col, features=features,
        out=out, threshold=threshold,
    )
    return scored.where(F.col(f"{out}_keep")).drop(f"{out}_keep")
