"""End-to-end corpus cleaning: the composition a training-data pipeline
actually runs, built from the dedup/text primitives.

    raw documents
      -> text stats (tokens, language, quality, fingerprint)   [one scan]
      -> drop low-quality / wrong-language docs                [no shuffle]
      -> exact dedup on fingerprint                            [1 shuffle]
      -> near-dup candidates (MinHash-LSH)                     [bucket join]
      -> verify candidates (n-gram Jaccard)                    [candidate-only]
      -> cluster verified pairs (connected components)         [id-only shuffles]
      -> keep the smallest id of each duplicate group

Everything stays declarative; at 100 TB each stage is a bounded shuffle of
ids/hashes, never of full documents.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import default_parallelism, drop_zip_finders, snapshot
from .dedup import (
    _h32,
    exact_dedup,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    resolve_duplicates,
    staged_shingle_hashes,
)
from .text import add_text_stats, token_count, word_ngrams

__all__ = [
    "assign_shards",
    "build_mixture",
    "chunk_documents",
    "corpus_diff",
    "corpus_report",
    "quality_bins",
    "sample_per_group",
    "dsir_weights",
    "dsir_sample",
    "boilerplate_ngrams",
    "clean_corpus",
    "decontaminate",
    "filter_paragraphs",
    "dedup_lines",
    "mixture_weights",
    "temperature_mixture",
    "pack_segments",
    "pack_sequences",
    "pack_whole_docs",
    "source_stats",
    "split_by_cluster",
    "hash_sample",
    "stratified_sample",
    "strip_boilerplate_lines",
    "write_sharded",
]


def _stream_starts(
    docs: DataFrame, id_col: str, size_expr, order_expr,
    checkpoint: bool = False, carry: tuple = (),
) -> DataFrame:
    """(id, __sz, __start): each row's exclusive running-sum position in the
    ``order_expr``-ordered stream of ``size_expr`` weights. ``carry``
    adds extra aliased Column expressions to the partitioned projection
    (evaluated once, materialized with it) — e.g. a token size riding along a
    unit-weight rank computation.

    The distributed prefix sum shared by :func:`pack_sequences` and
    :func:`assign_shards` — a global ``sum() OVER (ORDER BY k)`` WITHOUT a
    global single-task window: range-partition by the order key, run the
    running sum per partition (window keyed on partition id: a shuffle of
    small (id, size) rows, never text), then lift per-partition totals (one
    tiny row per partition) into exclusive prefix offsets driver-side and
    broadcast them back. Every stage stays parallel at any corpus size.

    Determinism: ``repartitionByRange`` picks its range boundaries by
    seeded sampling, and the seed differs per physical execution — so the
    per-partition totals job and the downstream join MUST observe the same
    physical partitioning or rows near a boundary could land in a
    different ``__pid`` on recomputation and silently corrupt every
    ``__start``. The partitioned projection (id, size, key — never text)
    is therefore a ``snapshot`` (``session.py``: an eager local
    checkpoint) taken before the totals collect; the returned plan reads
    the same materialized partitions, and their blocks live as long as
    that plan. A local checkpoint only survives as long as its executors:
    at 100 TB a lost executor mid-job would silently recompute a
    differently-partitioned slice — pass ``checkpoint=True`` to pin the
    projection with a RELIABLE checkpoint (written to
    ``sparkContext.setCheckpointDir``, which must be a fault-tolerant
    filesystem at scale) so offsets also survive executor loss. The
    materialized slice is ~24 bytes/doc either way.
    """
    spark = docs.sparkSession
    par = default_parallelism(spark)
    base = (
        docs.select(F.col(id_col), size_expr.cast("long").alias("__sz"),
                    order_expr.alias("__k"), *carry)
        .repartitionByRange(max(par, 2), F.col("__k"))
        .withColumn("__pid", F.spark_partition_id())
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy("__k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    base = base.withColumn("__end_local", F.sum("__sz").over(w))
    if checkpoint:
        if spark.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "checkpoint=True requires a checkpoint directory: call "
                "spark.sparkContext.setCheckpointDir(<fault-tolerant path>) first"
            )
        # reliable checkpoint: materializes the partitioned projection to
        # the checkpoint filesystem and truncates lineage, so a lost
        # executor re-READS the same partitions instead of re-sampling
        # repartitionByRange boundaries
        base = base.checkpoint(eager=True)
    else:
        base = snapshot(base)

    # tiny: one row per partition — exclusive prefix offsets driver-side.
    # (repartitionByRange makes partition ids follow the key ranges, so
    # cumulating totals in __pid order IS the global stream order.) A NULL
    # size adds nothing, as in the running sum: a partition of NULL-size
    # rows totals 0, not NULL.
    totals = base.groupBy("__pid").agg(
        F.coalesce(F.sum("__sz"), F.lit(0)).alias("__t")).collect()
    run, offs = 0, []
    for r in sorted(totals, key=lambda r: r["__pid"]):
        offs.append((r["__pid"], run))
        run += r["__t"]
    off_df = spark.createDataFrame(offs or [(0, 0)], "__pid int, __off long")
    return base.join(F.broadcast(off_df), "__pid").withColumn(
        "__start", F.col("__off") + F.col("__end_local") - F.col("__sz")
    )


def pack_sequences(
    docs: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    checkpoint: bool = False,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing: treat the corpus as one
    token stream in ``id_col`` order and assign each document the
    ``capacity``-token context-window bin where it starts.

    Returns ``(id_col, n_tokens, bin_id, bin_offset)``: ``bin_id =
    floor(start / capacity)`` and ``bin_offset = start % capacity`` where
    ``start`` is the document's position in the concatenated stream. A
    document longer than ``capacity`` simply spans bins (standard
    GPT-style packing: the chunker, not this planner, splits it).

    Scale shape — a global running sum WITHOUT a global single-task
    window: range-partition by id, compute the running sum per partition
    (window keyed on partition id: a shuffle of 16-byte (id, count) rows,
    never text), then lift per-partition totals (one tiny row per
    partition) into exclusive prefix offsets and broadcast them back.
    Equivalent to ``sum() OVER (ORDER BY id)`` but every stage stays
    parallel at any corpus size.

    ``tokens_col``: use a precomputed token count instead of whitespace
    tokenization of ``text_col``.
    """
    tok = (
        F.col(tokens_col) if tokens_col else token_count(F.col(text_col))
    ).cast("long")
    base = _stream_starts(docs, id_col, tok, F.col(id_col),
                          checkpoint=checkpoint)
    return base.select(
        F.col(id_col),
        F.col("__sz").alias("n_tokens"),
        # integer DIV: exact at any stream length (float division
        # would lose ULPs past 2^53 tokens)
        F.expr(f"__start DIV {int(capacity)}").alias("bin_id"),
        (F.col("__start") % capacity).alias("bin_offset"),
    )


def pack_segments(
    docs: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    checkpoint: bool = False,
) -> DataFrame:
    """The chunker's view of :func:`pack_sequences`: one row per
    (document, context-window bin) the document OVERLAPS, with the exact
    segment bounds — what a GPT-style packer materializes when a document
    spans bins.

    Returns ``(id_col, bin_id, doc_offset, bin_offset, seg_tokens)``:
    the segment covers tokens ``[doc_offset, doc_offset + seg_tokens)`` of
    the document and lands at ``bin_offset`` inside ``bin_id``. A document
    fully inside one bin yields one row; a ``capacity``-spanning document
    yields ``ceil`` rows. Zero-token documents yield none.

    Same distributed prefix sum as :func:`pack_sequences`; the bin
    expansion is a per-row ``sequence``+``explode`` (factor ≈ 1 + tokens/
    capacity — the theoretical minimum number of segments), so the whole
    operator stays a narrow pass after the prefix-sum shuffle.
    """
    tok = (
        F.col(tokens_col) if tokens_col else token_count(F.col(text_col))
    ).cast("long")
    cap = int(capacity)
    base = _stream_starts(docs, id_col, tok, F.col(id_col),
                          checkpoint=checkpoint).where(F.col("__sz") > 0)
    first = F.expr(f"__start DIV {cap}")
    last = F.expr(f"(__start + __sz - 1) DIV {cap}")
    out = base.select(
        F.col(id_col),
        F.col("__start"),
        F.col("__sz"),
        F.explode(F.sequence(first, last)).alias("bin_id"),
    )
    seg_start = F.greatest(F.col("__start"), F.col("bin_id") * cap)
    seg_end = F.least(F.col("__start") + F.col("__sz"), (F.col("bin_id") + 1) * cap)
    return out.select(
        F.col(id_col),
        F.col("bin_id"),
        (seg_start - F.col("__start")).alias("doc_offset"),
        (seg_start - F.col("bin_id") * cap).alias("bin_offset"),
        (seg_end - seg_start).alias("seg_tokens"),
    )


def assign_shards(
    docs: DataFrame,
    target_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    shuffle: bool = True,
    checkpoint: bool = False,
) -> DataFrame:
    """Balanced output sharding: assign each document a ``shard_id`` so
    every shard carries ~``target_tokens`` of payload (greedy sequential
    fill: ``shard_id = floor(start / target)`` over the running sum of
    document sizes).

    ``shuffle=True`` (the default) orders the stream by ``md5(id)`` — a
    deterministic, engine-portable corpus shuffle, so shards are also an
    unbiased sample of the corpus (what a training run wants from its input
    files: no time/source clustering within a shard). ``shuffle=False``
    preserves ``id_col`` order for locality-preserving layouts.

    Same distributed prefix-sum shape as :func:`pack_sequences` — no global
    single-task window, sizes only (never text) through the shuffles.
    Returns ``(id_col, n_tokens, shard_id)``.
    """
    tok = (
        F.col(tokens_col) if tokens_col else token_count(F.col(text_col))
    ).cast("long")
    order = (
        F.md5(F.col(id_col).cast("string")) if shuffle else F.col(id_col)
    )
    base = _stream_starts(docs, id_col, tok, order, checkpoint=checkpoint)
    return base.select(
        F.col(id_col),
        F.col("__sz").alias("n_tokens"),
        F.expr(f"__start DIV {int(target_tokens)}").alias("shard_id"),
    )


def write_sharded(
    docs: DataFrame,
    path: str,
    target_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    shuffle: bool = True,
    mode: str = "overwrite",
    checkpoint: bool = False,
) -> None:
    """Write the corpus as size-balanced parquet shards:
    ``path/shard_id=N/`` directories each holding ~``target_tokens`` of
    documents, internally ordered by the deterministic shuffle key.

    One extra shuffle (hash on shard_id) co-locates each shard into a
    single task before the partitioned write, so each shard directory is
    one file of the target size — the layout a training-data loader
    streams directly. ``sortWithinPartitions`` on the same stream key that
    ordered the shard assignment makes each file internally ordered by it
    (a task-local sort — no extra shuffle).
    """
    shards = assign_shards(
        docs, target_tokens, id_col=id_col, text_col=text_col,
        tokens_col=tokens_col, shuffle=shuffle, checkpoint=checkpoint,
    ).select(id_col, "shard_id")
    out = docs.join(shards, id_col)
    order = (
        F.md5(F.col(id_col).cast("string")) if shuffle else F.col(id_col)
    )
    (
        out.repartition(F.col("shard_id"))
        # shard_id leads the sort: the dynamic-partition writer requires
        # rows sorted by the partition column and would otherwise inject
        # its own (non-stable) sort, scrambling the stream-key order
        .sortWithinPartitions(F.col("shard_id"), order)
        .write.mode(mode)
        .partitionBy("shard_id")
        .parquet(path)
    )


def mixture_weights(
    docs: DataFrame,
    target: dict[str, float],
    by: str = "source",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-source sampling fractions that reshape the corpus toward a
    target token-share mixture (e.g. ``{"web": 0.5, "code": 0.3,
    "books": 0.2}``) without upsampling: the most over-demanded source
    keeps fraction 1.0 and every other source is scaled down relative
    to it, so all fractions are valid Bernoulli rates for
    :func:`stratified_sample`.

    Returns one row per ``by`` value: ``(by, n_tokens, share, target_share,
    fraction)``. One partial-agg shuffle over (source, token-count) pairs —
    never text. Sources absent from ``target`` get fraction 0.0.
    """
    tok = (
        F.col(tokens_col) if tokens_col else token_count(F.col(text_col))
    ).cast("long")
    per = docs.groupBy(by).agg(F.sum(tok).alias("n_tokens"))
    total = F.sum("n_tokens").over(Window.partitionBy())
    share = F.col("n_tokens") / total
    tgt = F.coalesce(
        *(
            [
                F.when(F.col(by) == k, F.lit(float(v)))
                for k, v in target.items()
            ]
            + [F.lit(0.0)]
        )
    )
    # demand_s = target_s / share_s; scale so max demand -> fraction 1.0
    demand = F.when(share > 0, tgt / share).otherwise(F.lit(0.0))
    max_demand = F.max(demand).over(Window.partitionBy())
    frac = F.when(max_demand > 0, demand / max_demand).otherwise(F.lit(0.0))
    return per.select(
        F.col(by),
        F.col("n_tokens"),
        F.round(share, 9).alias("share"),
        F.round(tgt, 9).alias("target_share"),
        F.round(frac, 9).alias("fraction"),
    )


def temperature_mixture(
    docs: DataFrame,
    by: str = "source",
    text_col: str = "text",
    tokens_col: str | None = None,
    temperature: float = 0.3,
) -> DataFrame:
    """Temperature-scaled sampling shares — the T5/mT5 multilingual
    mixing recipe (Raffel et al. 2020 §3.4.1; Conneau et al. 2020 eq. 1
    for XLM-R): group ``g``'s target share is
    ``share_g**T / sum_h(share_h**T)``, so ``T=1`` reproduces natural
    proportions, ``T -> 0`` approaches uniform, and intermediate values
    up-weight low-resource groups without flattening the head entirely.

    Returns one row per ``by`` value: ``(by, n_tokens, share,
    target_share, fraction)`` — the exact :func:`mixture_weights` output
    shape, so the result feeds :func:`stratified_sample` (fractions) or
    a :func:`build_mixture` target dict directly. One partial-agg
    shuffle over (group, token-count) pairs; the temperature arithmetic
    is a closed-form projection over the groups-sized aggregate, fully
    SQL-replayable.
    """
    if not 0 < temperature <= 1:
        raise ValueError(f"temperature must be in (0, 1], got {temperature}")
    tok = (
        F.col(tokens_col) if tokens_col else token_count(F.col(text_col))
    ).cast("long")
    per = docs.groupBy(by).agg(F.sum(tok).alias("n_tokens"))
    total = F.sum("n_tokens").over(Window.partitionBy())
    share = F.col("n_tokens") / total
    powered = F.when(share > 0, F.pow(share, F.lit(float(temperature)))
                     ).otherwise(F.lit(0.0))
    z = F.sum(powered).over(Window.partitionBy())
    tgt = F.when(z > 0, powered / z).otherwise(F.lit(0.0))
    # same no-upsampling normalization as mixture_weights: the most
    # over-demanded group keeps fraction 1.0
    demand = F.when(share > 0, tgt / share).otherwise(F.lit(0.0))
    max_demand = F.max(demand).over(Window.partitionBy())
    frac = F.when(max_demand > 0, demand / max_demand).otherwise(F.lit(0.0))
    return per.select(
        F.col(by),
        F.col("n_tokens"),
        F.round(share, 9).alias("share"),
        F.round(tgt, 9).alias("target_share"),
        F.round(frac, 9).alias("fraction"),
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    seed: int = 42,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum Bernoulli sampling — corpus rebalancing (e.g. cap the
    over-represented language) without a shuffle: ``sampleBy`` filters rows
    at scan time using only the stratum value and the seed.

    Strata missing from ``fractions`` get ``default_fraction`` (0 drops
    them, 1.0 keeps all). Exact per-stratum counts would need a window —
    at corpus scale Bernoulli fractions are the right tool.
    """
    fr = dict(fractions)
    if default_fraction:
        present = {
            r[0] for r in docs.select(strata_col).distinct().collect()
        }
        for v in present - set(fr):
            fr[v] = default_fraction
    return docs.sampleBy(strata_col, fractions=fr, seed=seed)


def hash_sample(
    docs: DataFrame,
    fraction: float | None = None,
    by: str | None = None,
    fractions: dict[str, float] | None = None,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic Bernoulli sample: keep a row iff ``md5(seed:id)``
    is lexicographically below the fraction's hex threshold.

    The engine-portable counterpart of :func:`stratified_sample`
    (``sampleBy``'s RNG is Spark-private, so its selection cannot be
    replayed elsewhere): lowercase-hex md5 compares lexicographically
    exactly as it compares numerically, so ``h < hex(floor(p * 16^8))``
    keeps a uniform ``p``-fraction, bit-reproducible from (seed, id) in
    any engine — DuckDB, Trino, a later Spark version, a resumed run.
    Pass ``fraction`` for a global rate or ``by`` + ``fractions`` for
    per-stratum rates (strata absent from the dict are DROPPED, the
    rebalancing default). The selection is a pure filter predicate —
    no shuffle, no RNG state, fused into the scan at any corpus size.
    """
    if (fraction is None) == (fractions is None):
        raise ValueError("pass exactly one of fraction= or fractions=")
    if fractions is not None and by is None:
        raise ValueError("fractions= needs by=")

    def thr(p: float) -> str:
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"fraction must be in [0, 1], got {p}")
        # 32-bit granularity on the first 8 hex digits; 'g' sorts above
        # every hex char, so p=1.0 keeps all rows
        return "g" if p >= 1.0 else format(int(p * 16**8), "08x")

    h = F.substring(
        F.md5(
            F.concat_ws(
                ":", F.lit(str(int(seed))), F.col(id_col).cast("string")
            )
        ),
        1,
        8,
    )
    if fraction is not None:
        return docs.where(h < F.lit(thr(fraction)))
    pred = None
    for value, p in sorted(fractions.items()):
        match = (F.col(by).cast("string") == F.lit(str(value))) & (
            h < F.lit(thr(p))
        )
        pred = match if pred is None else (pred | match)
    return docs.where(pred if pred is not None else F.lit(False))


def split_by_cluster(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    test_frac: float = 0.1,
    buckets: int = 1000,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Leakage-controlled train/test split: hash-split by the document's
    DUPLICATE-CLUSTER representative, not its own id, so near-duplicates
    (the verified-pair graph's connected components) always land on the
    same side — the standard guard against eval contamination via a
    near-copy of a test document leaking into train.

    ``pairs`` is any verified near-dup pair set (n-gram Jaccard, LSH +
    verify, SemDeDup pairs...). Each doc's representative is its
    component's min id (its own id for singletons); ``split`` = 'test'
    for the ``test_frac`` fraction of md5-hash buckets of the
    representative, 'train' otherwise. Deterministic — no RNG, identical
    in any engine and on any rerun/backfill.

    Scale: components ship only (node, component) bigint rows
    (:func:`~nested_pandas_spark.pipeline.dedup.connected_components` —
    id-only pointer-doubling shuffles); the split itself is one narrow
    left join (broadcastable — the pair graph is tiny next to the corpus)
    plus a per-row hash projection. Document text never shuffles.
    """
    from .dedup import connected_components

    cc = connected_components(pairs, id_a=id_a, id_b=id_b).select(
        F.col("node").alias("__node"), F.col("component").alias("__comp")
    )
    out = docs.join(cc, docs[id_col] == cc["__node"], how="left")
    rep = F.coalesce(F.col("__comp"), F.col(id_col).cast("long"))
    bucket = _h32(rep.cast("string")) % buckets
    n_test = int(round(test_frac * buckets))
    return out.select(
        *[docs[c] for c in docs.columns],
        rep.alias("cluster_rep"),
        F.when(bucket < n_test, F.lit("test"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str | None = None,
    ngram_n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag every training document that shares
    at least ``min_hits`` distinct word ``ngram_n``-grams with an evaluation
    set — the standard train/test-overlap scrub run before pretraining.

    Returns ``(id_col, n_bench_ngrams, contaminated)`` with one row per
    input document (clean docs get ``n_bench_ngrams = 0``).

    Scale shape: eval benchmarks are small by construction (thousands of
    documents, not billions), so their distinct n-gram hash set broadcasts
    — the corpus side is one scan -> shingle-hash -> explode -> broadcast
    semi-join -> per-doc count (a single shuffle keyed on the doc id).
    Document text itself never shuffles; only (id, 8-byte hash) pairs do,
    and the broadcast join means the 100 TB side is never repartitioned by
    n-gram. N-grams are compared by the same md5-derived 32-bit hash the
    dedup family uses (engine-portable; collisions only ever ADD a flag,
    which is the conservative direction for decontamination).
    """
    bt = bench_text_col or text_col
    bench_grams = (
        benchmark.select(
            F.explode(
                F.array_distinct(
                    F.transform(word_ngrams(F.col(bt), ngram_n), _h32)
                )
            ).alias("__g")
        ).distinct()
    )
    doc_grams = staged_shingle_hashes(docs, id_col, text_col, ngram_n)
    hits = (
        doc_grams.select(
            "__id", F.explode(F.array_distinct("__h")).alias("__g")
        )
        .join(F.broadcast(bench_grams), "__g")
        .groupBy("__id")
        .agg(F.count("*").alias("n_bench_ngrams"))
        .withColumnRenamed("__id", id_col)
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_bench_ngrams", F.lit(0)).alias("n_bench_ngrams"),
            (F.coalesce("n_bench_ngrams", F.lit(0)) >= min_hits).alias(
                "contaminated"
            ),
        )
    )


def source_stats(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    min_docs: int = 1,
    min_avg_quality: float = 0.0,
) -> DataFrame:
    """Per-source curation rollup: document count, total tokens, mean
    heuristic quality, and a ``keep`` verdict — the crawl-source /
    domain-level triage step (drop spam domains wholesale before paying
    for per-document dedup and model scoring).

    Returns ``(source, n_docs, total_tokens, avg_quality, keep)`` where
    ``keep = n_docs >= min_docs AND avg_quality >= min_avg_quality``.
    Join the kept sources back (broadcast — the source dimension is tiny)
    or feed the table to :func:`mixture_weights`.

    Scale shape: one partial-aggregated shuffle keyed on the source — the
    map side combines to one row per source per partition, so a mega-source
    (half the crawl from one domain) costs no more than a small one; text
    never shuffles. ``avg_quality`` is rounded to 6 decimals so the
    verdict is engine-reproducible.
    """
    from .text import quality_score, token_count

    per = docs.select(
        F.col(source_col).alias("source"),
        token_count(F.col(text_col)).alias("__tok"),
        quality_score(F.col(text_col)).alias("__q"),
    )
    agg = per.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("__tok").cast("long").alias("total_tokens"),
        F.round(F.avg("__q"), 6).alias("avg_quality"),
    )
    return agg.withColumn(
        "keep",
        (F.col("n_docs") >= min_docs)
        & (F.col("avg_quality") >= min_avg_quality),
    )


def strip_boilerplate_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_df: int = 3,
    min_chars: int = 1,
) -> DataFrame:
    """Line-level corpus dedup that REWRITES the text: split each document
    on ``sep``, drop every line whose trimmed form appears in at least
    ``min_df`` distinct documents, and re-join the survivors in original
    order (the RefinedWeb / CCNet line-dedup pass that strips navigation
    chrome, cookie banners, and license headers — the *removal* sibling of
    :func:`boilerplate_ngrams`, which only scores).

    Lines whose trimmed form is shorter than ``min_chars`` characters
    (blank lines by default) are never counted and never removed, so
    paragraph structure survives. ``sep`` is a literal separator, not a
    regex. Returns ``(id_col, clean_text, n_lines, n_removed)`` — one row
    per input doc; a doc whose every line was boilerplate gets
    ``clean_text = ''``.

    Scale shape: document-frequency is counted on ``xxhash64`` of the
    trimmed line, so the df shuffle carries (hash, id) pairs — line text
    never moves in pass 1. The boilerplate set is pruned to
    ``df >= min_df`` BEFORE the anti join (at web scale most lines are
    unique, so this shrinks it by orders of magnitude; AQE broadcasts it
    when it fits). Pass 2 is the unavoidable per-doc reconstruction
    shuffle keyed on the doc id. No window functions, no driver loops.

    Example (a cookie banner shared by two docs is stripped; the unique
    body survives in order):

    >>> docs = spark.createDataFrame(
    ...     [(1, "accept cookies\\nreal content"),
    ...      (2, "accept cookies\\nother words")],
    ...     "doc_id long, text string")
    >>> out = strip_boilerplate_lines(docs, min_df=2).orderBy("doc_id")
    >>> [r["clean_text"] for r in out.collect()]
    ['real content', 'other words']
    """
    # literal split: F.split takes a regex, so escape the separator
    parts = F.split(F.col(text_col), re.escape(sep), -1)
    lines = docs.select(
        F.col(id_col).alias("__id"),
        F.posexplode(parts).alias("__pos", "__line"),
    )
    key = F.trim(F.col("__line"))
    # hash key is NULL for exempt (too-short / blank) lines -> they never
    # match the anti join and are always kept
    keyed = lines.withColumn(
        "__h",
        F.when(F.length(key) >= min_chars, F.xxhash64(key)),
    )
    common = (
        keyed.where(F.col("__h").isNotNull())
        .select("__h", "__id")
        .distinct()
        .groupBy("__h")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") >= min_df)
        .select("__h")
    )
    kept = keyed.join(common, "__h", "left_anti")
    recon = kept.groupBy("__id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda x: x["__line"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").alias("__n_kept"),
    )
    # NULL text stays NULL (not rewritten to ''), with zero counts — keeps
    # the accounting invariant n_removed == n_lines - kept for every row
    is_null = F.col(text_col).isNull()
    n_lines = F.when(is_null, F.lit(0)).otherwise(F.size(parts)).cast("long")
    return (
        docs.select(F.col(id_col), is_null.alias("__isnull"),
                    n_lines.alias("n_lines"))
        .join(recon.withColumnRenamed("__id", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("__isnull"), F.lit(None).cast("string"))
            .otherwise(F.coalesce("clean_text", F.lit("")))
            .alias("clean_text"),
            F.col("n_lines"),
            (F.col("n_lines") - F.coalesce("__n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def boilerplate_ngrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 5,
    min_df: int = 3,
) -> DataFrame:
    """Corpus-common ("boilerplate") n-gram signal per document: how many of
    a doc's DISTINCT word ``ngram_n``-grams appear in at least ``min_df``
    documents corpus-wide, and what fraction of the doc that is — the
    cross-document duplication score used to strip navigation chrome /
    license headers / templated spam before pretraining (the
    corpus-internal sibling of :func:`decontaminate`'s eval-set overlap).

    Returns ``(id_col, n_grams, n_common, common_ratio)`` — one row per
    input doc; docs with no n-grams get zeros. Filter on ``common_ratio``
    or feed it to a quality model.

    Scale shape: two hash-keyed shuffles, text never moves. Pass 1 —
    scan -> shingle-hash -> distinct (id, hash) -> groupBy hash counting
    document frequency (partial-agg combines map-side, so the wire carries
    one (hash, count) per hash per partition). Pass 2 — the per-doc
    rollup keyed on the doc id. The df table is (hash, df) pairs: at web
    scale prune it to ``df >= min_df`` BEFORE the join-back (done here),
    which typically shrinks it by orders of magnitude since most n-grams
    are unique; AQE broadcasts it when it fits.
    """
    doc_grams = (
        staged_shingle_hashes(docs, id_col, text_col, ngram_n)
        .select("__id", F.explode(F.array_distinct("__h")).alias("__g"))
    )
    common = (
        doc_grams.groupBy("__g")
        .agg(F.count("*").alias("__df"))
        .where(F.col("__df") >= min_df)
        .select("__g")
    )
    per_doc = (
        doc_grams.join(common, "__g", "left_semi")
        .groupBy("__id")
        .agg(F.count("*").alias("n_common"))
    )
    totals = doc_grams.groupBy("__id").agg(F.count("*").alias("n_grams"))
    return (
        docs.select(F.col(id_col).alias("__id"))
        .join(totals, "__id", "left")
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.round(
                    F.coalesce("n_common", F.lit(0))
                    / F.col("n_grams"), 6
                ),
            ).otherwise(F.lit(0.0)).alias("common_ratio"),
        )
    )


def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.25,
    languages: list[str] | None = None,
    near_dup_threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    model_threshold: float | None = None,
    model_weights: dict[str, float] | None = None,
    gopher: bool | dict = False,
    max_repetition: dict[str, float] | None = None,
    min_bigram_logprob: float | None = None,
    classifier=None,
    classifier_dim: int = 64,
    classifier_threshold: float = 0.5,
    classifier_features: str = "binary",
    url_col: str | None = None,
    blocked_domains=None,
    domain_cap: int | None = None,
) -> DataFrame:
    """Return the cleaned corpus (stats columns attached), with exact and
    verified near-duplicates removed (the lowest id of each group survives).

    ``model_threshold`` adds the classifier-filtering stage: rows must also
    score ``quality_model_score(...) >= model_threshold`` (a logistic model
    evaluated JVM-side in the same scan as the heuristic stats — no extra
    pass over the text).

    The Gopher-stack knobs compose the standalone signal operators into
    the one-call cleaner, in this order (filters stack before dedup):

    * ``gopher=True`` (or a dict of :func:`~.text.gopher_rules` kwargs)
      keeps only rows passing the Gopher rule filter; the
      ``gopher_*`` signal columns stay attached.
    * ``max_repetition={"top2": 0.2, "dup5": 0.15}`` bounds the
      :func:`~.text.gopher_repetition` signals — keys name the signal
      (``top{n}`` / ``dup{n}``, ``_frac`` suffix optional), values are
      inclusive maxima.
    * ``min_bigram_logprob=-9.0`` keeps rows whose
      :func:`~.text.bigram_logprob` mean (self-modelled over the corpus
      surviving the previous stages) meets the floor; rows too short to
      have bigrams fail it.

    ``classifier=`` adds the TRAINED-model stage (GPT-3/LLaMA-style): pass
    the (bucket, weight) table from
    :func:`~.classifier.train_quality_classifier` (or an equivalent dict)
    and rows must score ``>= classifier_threshold`` under
    :func:`~.classifier.classifier_score_inline` with ``classifier_dim`` /
    ``classifier_features`` matching training — a stateless plan-literal
    projection, no extra shuffle; the ``clf_score`` column stays attached.
    Training itself stays the caller's batch step (it needs labels).

    ``url_col=`` enables URL-grain curation BEFORE any text stage (the
    RefinedWeb order): ``blocked_domains=`` (DataFrame or list; subdomains
    included) drops blocklisted hosts via
    :func:`~.web.blocklist_filter`, ``domain_cap=`` keeps at most that
    many rows per domain via :func:`~.web.domain_caps`.
    """
    from .text import (
        bigram_logprob, gopher_repetition, gopher_rules, quality_model_score)

    if url_col is not None and (blocked_domains is not None
                                or domain_cap is not None):
        # URL-grain curation runs FIRST (the RefinedWeb order): blocklist
        # and per-domain caps shrink the corpus before any text operator
        # touches a byte of it
        from .web import blocklist_filter, domain_caps

        if blocked_domains is not None:
            docs = blocklist_filter(docs, blocked_domains, url_col,
                                    id_col=id_col)
        if domain_cap is not None:
            docs = domain_caps(docs, url_col, domain_cap, id_col=id_col)

    stats = add_text_stats(docs, text_col)
    kept = stats.where(F.col("quality") >= min_quality)
    if model_threshold is not None:
        kept = kept.where(
            quality_model_score(text_col, weights=model_weights)
            >= model_threshold
        )
    if languages:
        kept = kept.where(F.col("lang_pred").isin(languages))
    if classifier is not None:
        from .classifier import classifier_score_inline

        kept = classifier_score_inline(
            kept, classifier, dim=classifier_dim,
            text_col=text_col, features=classifier_features,
        ).where(F.col("clf_score") >= F.lit(float(classifier_threshold)))
    if gopher:
        gkw = dict(gopher) if isinstance(gopher, dict) else {}
        gkw.setdefault("prefix", "gopher")
        kept = gopher_rules(kept, text_col=text_col, **gkw)
        kept = kept.where(F.col(f"{gkw['prefix']}_pass"))
    if max_repetition:
        import re as _re

        tops, dups, bounds = [], [], {}
        for k, vmax in max_repetition.items():
            m = _re.fullmatch(r"(top|dup)(\d+)(?:_frac)?", k)
            if not m:
                raise ValueError(
                    "max_repetition keys must look like 'top2' or 'dup5', "
                    f"got {k!r}")
            n = int(m.group(2))
            (tops if m.group(1) == "top" else dups).append(n)
            bounds[f"gopher_{m.group(1)}{n}_frac"] = float(vmax)
        kept = gopher_repetition(
            kept, text_col=text_col,
            top_ns=tuple(sorted(set(tops))), dup_ns=tuple(sorted(set(dups))))
        for colname, vmax in bounds.items():
            kept = kept.where(F.col(colname) <= vmax)
    if gopher or max_repetition or min_bigram_logprob is not None:
        # The dedup stages below (and the bigram model's three
        # aggregations) each re-execute kept's lineage from scratch —
        # fine when the filters are cheap projections (the q29 path),
        # ruinous once the O(n^2)-per-doc repetition HOFs are in it.
        # Snapshot the filtered corpus ONCE; everything downstream reads
        # the materialized rows.
        kept = snapshot(kept)
    if min_bigram_logprob is not None:
        lp = bigram_logprob(kept, id_col=id_col, text_col=text_col)
        ok_ids = lp.where(
            F.col("mean_logp") >= float(min_bigram_logprob)
        ).select(F.col(id_col).alias("__lp_keep"))
        kept = kept.join(
            ok_ids, on=kept[id_col] == ok_ids["__lp_keep"], how="left_semi")

    # exact dedup: keep min id per fingerprint
    survivors = exact_dedup(kept, id_col, text_col).select(
        F.col(id_col).alias("__keep_id")
    )
    kept = kept.join(
        survivors, on=kept[id_col] == survivors["__keep_id"], how="left_semi"
    )

    # near-dup: LSH candidates -> exact Jaccard verify -> connected
    # components -> keep the smallest id per duplicate group. Pairwise
    # "drop id_b" would over-keep under transitivity (pairs (2,3),(1,3)
    # keep both 1 and 2); component-min resolves each group to exactly
    # one representative.
    candidates = lsh_candidate_pairs(
        kept, id_col, text_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n,
    )
    verified = ngram_jaccard_pairs(
        kept, id_col, text_col, shingle_n=shingle_n,
        threshold=near_dup_threshold, candidates=candidates,
    )
    return resolve_duplicates(kept, verified, id_col)


def dedup_lines(
    docs: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    out_col: str | None = None,
) -> DataFrame:
    """WITHIN-document duplicate-line removal: keep the FIRST occurrence of
    every distinct ``sep``-separated segment, preserving order — the
    intra-document companion of :func:`strip_boilerplate_lines` (which
    strips segments common ACROSS documents). The classic cleanup for
    nav-bar/footer spam repeated inside one page.

    Adds ``{out_col or text_col + "_deduped"}`` and ``n_removed``.
    ``array_distinct`` preserves first-occurrence order, so the whole
    operator is one codegen'd projection: zero shuffle, no UDF. NULL text
    passes through as NULL.
    """
    import re as _re

    out_col = out_col or f"{text_col}_deduped"
    lines = F.split(F.col(text_col), _re.escape(sep))
    distinct = F.array_distinct(lines)
    return docs.withColumn(
        out_col, F.array_join(distinct, sep)
    ).withColumn(
        "n_removed", (F.size(lines) - F.size(distinct)).cast("long")
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    dim: int = 8192,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 1.0,
    out: str = "dsir_logw",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by how much more likely its hashed n-gram features are under the
    TARGET distribution than under the RAW distribution —
    ``logw(doc) = sum_b c_doc[b] * (log p_target[b] - log p_raw[b])``
    over ``dim`` hash buckets of unigram + bigram features, with add-one
    (``smoothing``) estimation of both distributions. High ``logw`` means
    "looks like the target domain"; feed the result to
    :func:`dsir_sample` or threshold it.

    Returns the raw frame plus ``out`` (double; NULL text scores NULL).

    Scale shape: both corpora collapse to ``dim``-sized bucket count
    tables (partial-agg groupBy of (bucket, count) — the only full-corpus
    shuffles, and they carry ints, not text). The per-bucket log-ratio
    table (``dim`` rows) broadcast-joins to the raw side's exploded
    (id, bucket, count) features, and a final partial-agg sum restores
    doc grain. Everything is md5-deterministic, so a SQL oracle replays
    the weights exactly.
    """
    if dim < 2:
        raise ValueError("dim must be >= 2")
    if smoothing <= 0:
        raise ValueError("smoothing must be > 0 (both sides need support)")
    from .text import word_ngrams, words

    def feats(df: DataFrame, with_id: bool):
        w = words(F.col(text_col))
        grams = F.concat(w, word_ngrams(F.col(text_col), 2))
        cols = [F.col(id_col).alias("__id")] if with_id else []
        return (
            df.where(F.col(text_col).isNotNull())
            .select(*cols, F.explode(grams).alias("__g"))
            .select(
                *(["__id"] if with_id else []),
                F.pmod(_h32(F.col("__g")), F.lit(dim)).alias("__b"),
            )
        )

    def dist(df: DataFrame, name: str):
        counts = feats(df, with_id=False).groupBy("__b").agg(
            F.count("*").alias("__c"))
        total = counts.agg(F.sum("__c").alias("__t"))
        # log((c + a) / (T + a*dim)) for every bucket 0..dim-1 (absent -> c=0)
        buckets = raw.sparkSession.range(dim).select(
            F.col("id").cast("long").alias("__b"))
        return (
            buckets.join(counts, "__b", "left")
            .crossJoin(F.broadcast(total))
            .select(
                "__b",
                (F.log(F.coalesce(F.col("__c"), F.lit(0)) + F.lit(float(smoothing)))
                 - F.log(F.col("__t") + F.lit(float(smoothing) * dim))
                 ).alias(name),
            )
        )

    ratio = (
        dist(target, "__lp").join(dist(raw, "__lq"), "__b")
        .select("__b", (F.col("__lp") - F.col("__lq")).alias("__lr"))
    )
    doc_feats = feats(raw, with_id=True).groupBy("__id", "__b").agg(
        F.count("*").alias("__c"))
    scores = (
        doc_feats.join(F.broadcast(ratio), "__b")
        .groupBy("__id")
        .agg(F.sum(F.col("__c") * F.col("__lr")).alias(out))
    )
    return (
        raw.join(scores.withColumnRenamed("__id", id_col), id_col, "left")
        .withColumn(
            out,
            F.when(F.col(text_col).isNull(), F.lit(None).cast("double"))
            .otherwise(F.coalesce(F.col(out), F.lit(0.0))),
        )
    )


def dsir_sample(
    raw: DataFrame,
    target: DataFrame,
    n: int,
    dim: int = 8192,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: float = 1.0,
) -> DataFrame:
    """Select the ``n`` raw documents that look most like the target
    domain by DSIR importance weight (deterministic tie-break on the
    weight, then ``id_col``). The top-n is a tournament
    ``orderBy().limit()`` — Spark's TakeOrderedAndProject keeps per-
    partition heaps of ``n`` and never sorts the full corpus.

    (The paper resamples with Gumbel noise; ranking deterministically
    keeps the selection oracle-checkable — add your own noise column
    first if you want the stochastic variant.)
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    scored = dsir_weights(raw, target, dim=dim, text_col=text_col,
                          id_col=id_col, smoothing=smoothing)
    return (
        scored.where(F.col("dsir_logw").isNotNull())
        .orderBy(F.col("dsir_logw").desc(), F.col(id_col).asc())
        .limit(n)
    )


def chunk_documents(
    docs: DataFrame,
    max_tokens: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document's whitespace tokens into context-window chunks
    of at most ``max_tokens``, starting every ``stride`` tokens — the
    chunker that :func:`pack_sequences`'s docstring defers over-length
    documents to (GPT-style pretraining prep: chunk long docs, then pack
    the chunks).

    ``stride`` defaults to ``max_tokens`` (disjoint chunks); a smaller
    stride overlaps consecutive chunks by ``max_tokens - stride`` tokens
    (the standard sliding-window trick so no span near a boundary is lost
    to truncation). Every token appears in at least one chunk; the last
    chunk of a document may be shorter. Empty/NULL documents produce no
    chunks.

    Output: ``(id_col, chunk_id, n_tokens, chunk_text)`` with ``chunk_id``
    counting from 0 per document.

    Scale shape: one pure-HOF projection plus an explode — zero shuffle,
    embarrassingly parallel, text bytes never leave their partition. All
    chunk arithmetic is exact int64 (``DIV``, no float rounding at any
    corpus size).
    """
    max_tokens = int(max_tokens)
    stride = max_tokens if stride is None else int(stride)
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    if not (1 <= stride <= max_tokens):
        raise ValueError(
            f"stride must be in [1, max_tokens], got {stride}")
    qt = "`" + text_col.replace("`", "``") + "`"
    w_sql = f"filter(split(lower({qt}), '\\\\s+'), __t -> __t != '')"
    n_chunks = (
        f"CASE WHEN size(__w) <= {max_tokens} THEN 1 "
        f"ELSE 1 + (size(__w) - {max_tokens} + {stride} - 1) DIV {stride} "
        f"END"
    )
    chunk = (
        f"named_struct("
        f"'chunk_id', __c, "
        f"'n_tokens', least({max_tokens}, size(__w) - __c * {stride}), "
        f"'chunk_text', array_join(slice(__w, CAST(__c * {stride} + 1 AS INT), "
        f"{max_tokens}), ' '))"
    )
    chunks = (
        f"CASE WHEN {qt} IS NULL OR size({w_sql}) = 0 THEN "
        f"CAST(array() AS array<struct<chunk_id: bigint, n_tokens: bigint, "
        f"chunk_text: string>>) ELSE "
        f"element_at(transform(array({w_sql}), __w -> "
        f"transform(sequence(0, {n_chunks} - 1), __c -> {chunk})), 1) END"
    )
    return (
        docs.select(F.col(id_col), F.explode(F.expr(chunks)).alias("__ch"))
        .select(
            F.col(id_col),
            F.col("__ch.chunk_id").alias("chunk_id"),
            F.col("__ch.n_tokens").alias("n_tokens"),
            F.col("__ch.chunk_text").alias("chunk_text"),
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff by content: classify every document of two corpus
    versions as ``added`` (fingerprint only in ``new``), ``removed``
    (only in ``old``), or ``kept`` — the audit table an incremental
    ingest pipeline publishes with each snapshot.

    One full-outer join on the md5 fingerprint: 32-hex keys and ids
    shuffle, text never. Per-side duplicate groups collapse to their
    min id + a count first (map-side combined), so a boilerplate
    mega-group costs one row in the join. Returns
    ``(fp, status, old_id, new_id, old_n, new_n)``.
    """
    from .text import fingerprint

    def side(df: DataFrame, tag: str) -> DataFrame:
        return (
            df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
            .groupBy("fp")
            .agg(
                F.min(id_col).alias(f"{tag}_id"),
                F.count("*").alias(f"{tag}_n"),
            )
        )

    o, n = side(old, "old"), side(new, "new")
    joined = o.join(n, on="fp", how="full_outer")
    status = (
        F.when(F.col("old_id").isNull(), F.lit("added"))
        .when(F.col("new_id").isNull(), F.lit("removed"))
        .otherwise(F.lit("kept"))
    )
    return joined.select(
        "fp", status.alias("status"), "old_id", "new_id", "old_n", "new_n"
    )


def quality_bins(
    docs: DataFrame,
    score_col: str,
    n_bins: int,
    id_col: str = "doc_id",
    by: str | None = None,
    ascending: bool = True,
    checkpoint: bool = False,
) -> DataFrame:
    """Assign each document an exact quantile bin of ``score_col`` —
    ``bin`` in 1..n_bins with ANSI ``ntile`` semantics (bucket sizes
    differ by at most one; earlier buckets take the remainder) — the
    curriculum/quality-binning step of a data-ordering pipeline
    (e.g. train on high-quality bins first, or mix bins at fixed rates).

    Ties broken deterministically by ``id_col``. ``ascending=False``
    puts the highest scores in bin 1. NULL scores raise at runtime
    (filter them first — a NULL has no quantile).

    Scale shape: the global variant computes exact row numbers with the
    same distributed prefix-sum :func:`pack_sequences` uses (range-
    partition on (score, id), per-partition running counts, driver-side
    offsets over one tiny row per partition) — a global ``ntile() OVER
    (ORDER BY score)`` would funnel the corpus through ONE task; this
    never does. Only (id, score) pairs shuffle; the bin map joins back
    to the input by id. With ``by=`` the window partitions per group
    (fine when every group fits an executor — mega-group skew wants the
    global form per group instead). ``checkpoint=`` as in
    :func:`pack_sequences`.
    """
    n_bins = int(n_bins)
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    sc = F.col(score_col)
    if by is not None:
        w = Window.partitionBy(by).orderBy(
            sc.asc() if ascending else sc.desc(), F.col(id_col).asc()
        )
        return docs.withColumn(
            "bin",
            F.when(sc.isNull(), F.expr(
                "raise_error('quality_bins: NULL score')"))
            .otherwise(F.ntile(n_bins).over(w)),
        )
    order = F.struct(
        (sc if ascending else -sc).alias("s"), F.col(id_col).alias("i")
    )
    starts = _stream_starts(docs.select(
        F.col(id_col),
        F.when(sc.isNull(), F.expr(
            "raise_error('quality_bins: NULL score')")).otherwise(sc)
        .alias(score_col),
    ), id_col, F.lit(1), order, checkpoint=checkpoint)
    raw_total = starts.agg(
        F.max(F.col("__start") + F.col("__sz")).alias("t")
    ).collect()[0]["t"]
    if raw_total is None:  # empty input: empty output, schema intact
        return docs.withColumn("bin", F.lit(None).cast("int"))
    total = int(raw_total)
    # exact ANSI ntile from the 0-based global row index: the first
    # (total % n) buckets take ceil(total/n) rows, the rest floor —
    # remainders FRONT-LOADED (floor(rn0*n/total) would spread them
    # evenly and disagree with every SQL engine's ntile)
    q, r = total // n_bins, total % n_bins
    big = r * (q + 1)  # rows covered by the (q+1)-sized buckets
    bin_sql = (
        f"CASE WHEN __start < {big} THEN __start DIV {q + 1} "
        f"ELSE {r} + (__start - {big}) DIV {max(q, 1)} END"
    )
    bins = starts.select(
        F.col(id_col).alias("__qb_id"),
        (F.expr(bin_sql).cast("int") + 1).alias("bin"),
    )
    return docs.join(
        bins, on=docs[id_col] == bins["__qb_id"], how="inner"
    ).drop("__qb_id")


def sample_per_group(
    docs: DataFrame,
    by: str,
    n: int,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic EXACT-``n`` sample per group: keep the ``n`` rows
    with the smallest ``md5(seed:id)`` within each ``by`` group — the
    reproducible counterpart of per-group reservoir sampling
    (:func:`stratified_sample` gives Bernoulli *fractions*; this gives
    exact counts, e.g. "200 eval docs per source", and any engine
    replays the selection bit-for-bit from the same seed).

    Groups with fewer than ``n`` rows keep everything. Output: the
    selected input rows, original columns.

    Scale shape: a two-stage tournament (the :func:`_per_query_topk`
    trick) — stage 1 ranks within (group, salt) slices so a mega-group
    never funnels through one task; only the <= n-per-slice survivors
    reach the per-group final window. Exact top-n is invariant under
    the tournament. The hash ranks 32-hex strings: engine-portable,
    no float rounding anywhere.
    """
    n = int(n)
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    buckets = default_parallelism(docs.sparkSession) * 4
    h = F.md5(F.concat_ws(":", F.lit(str(int(seed))),
                          F.col(id_col).cast("string")))
    order = [h.asc(), F.col(id_col).asc()]
    w1 = Window.partitionBy(F.col(by), F.col("__salt")).orderBy(*order)
    pre = (
        docs.withColumn(
            "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(buckets)))
        .withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= n)
        .drop("__salt", "__r1")
    )
    w2 = Window.partitionBy(F.col(by)).orderBy(*order)
    return (
        pre.withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def filter_paragraphs(
    docs: DataFrame,
    min_logprob: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    model_docs: DataFrame | None = None,
    alpha: float = 1.0,
) -> DataFrame:
    """CCNet-style PARAGRAPH-grain LM filtering (Wenzek et al. 2020 —
    the step the doc-level ``min_bigram_logprob`` knob of
    :func:`clean_corpus` approximates): split each document on ``sep``,
    score every paragraph with a bigram LM trained on the model corpus'
    paragraphs (default: the input's own — self-modelled), DROP
    paragraphs whose mean bigram log-prob falls below ``min_logprob``,
    and reassemble the survivors in original order.

    Paragraphs too short to score (fewer than 2 tokens — headings,
    blank lines) are KEPT: an unscorable paragraph is structure, not
    evidence of noise. A document whose every paragraph drops keeps an
    empty string; NULL text stays NULL with 0 removed.

    Output: the input columns with ``text_col`` rewritten, plus
    ``n_paras_removed``.

    Scale shape: paragraphs move through the bigram model's count
    shuffles as (surrogate id, paragraph) rows; reassembly is ONE
    text-grain groupBy (the same budget as strip_boilerplate_lines).
    No Python anywhere.
    """
    from .text import bigram_logprob

    pat = re.escape(sep)
    c = F.col(text_col)

    def paras(df: DataFrame) -> DataFrame:
        return (
            df.where(c.isNotNull())
            .select(
                F.col(id_col),
                F.posexplode(F.split(c, pat)).alias("__idx", "__para"),
            )
        )

    p = paras(docs)
    pf = p.select(
        F.concat_ws(
            ":", F.col(id_col).cast("string"), F.col("__idx").cast("string")
        ).alias("__ppid"),
        F.col("__para"),
    )
    mf = pf if model_docs is None else paras(model_docs).select("__para")
    scores = bigram_logprob(
        pf, id_col="__ppid", text_col="__para", model_docs=mf, alpha=alpha
    ).select("__ppid", "mean_logp")
    keep = (
        F.col("mean_logp").isNull()
        | (F.col("mean_logp") >= float(min_logprob))
    )
    flagged = (
        p.withColumn(
            "__ppid",
            F.concat_ws(":", F.col(id_col).cast("string"),
                        F.col("__idx").cast("string")),
        )
        .join(scores, "__ppid")
        .withColumn("__keep", keep)
    )
    # collect_list skips the NULLs the failed CASE leaves, array_sort
    # orders by __idx (unique per doc) — reassembly preserves order
    agg = flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(
                    F.when(F.col("__keep"),
                           F.struct(F.col("__idx"), F.col("__para"))))),
                lambda s: s["__para"],
            ),
            sep,
        ).alias("__new_text"),
        F.sum(F.when(F.col("__keep"), 0).otherwise(1))
        .cast("long").alias("__n_removed"),
    )
    joined = docs.join(agg, id_col, "left")
    out_cols = [
        (F.when(c.isNull(), F.lit(None).cast("string"))
         .otherwise(F.col("__new_text")).alias(text_col))
        if name == text_col else F.col(name)
        for name in docs.columns
    ]
    return joined.select(
        *out_cols,
        F.coalesce(F.col("__n_removed"), F.lit(0).cast("long"))
        .alias("n_paras_removed"),
    )


def build_mixture(
    docs: DataFrame,
    target: dict[str, float],
    token_budget: int,
    by: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    seed: int = 42,
    checkpoint: bool = False,
) -> DataFrame:
    """MATERIALIZE a training mixture: select documents so each ``by``
    group contributes ``token_budget * target[group] / sum(target)``
    tokens — the step that turns :func:`mixture_weights`-style proportions
    (DoReMi / LLaMA data recipes) into an actual corpus, with EXACT token
    budgets instead of Bernoulli expectation.

    Selection is deterministic and engine-replayable: within each group,
    documents are ordered by ``md5(seed:id)`` (the :func:`sample_per_group`
    ranking) and taken while the group's EXCLUSIVE running token sum is
    below its budget — so the document that crosses the boundary is kept
    (budgets overshoot by at most one document; a positive budget always
    yields at least one document). Groups absent from ``target`` (and any
    group once its budget is filled) are dropped. Groups whose corpus runs
    out simply contribute everything they have — no upsampling.

    Scale shape: the running sum is the :func:`pack_sequences` distributed
    prefix sum over the composite key (group, rank, id) — range-partitioned
    per-partition windows plus broadcast driver offsets, never a
    single-task global window; per-group offsets come from a
    groups-count-sized totals frame (broadcast). Only (id, group, tokens,
    32-hex rank) rows shuffle — never text; the final id-keyed semi-join
    brings back full rows. ``checkpoint=`` as in :func:`pack_sequences`
    (executor-loss durability for the prefix sum at scale).
    """
    if token_budget < 1:
        raise ValueError(f"token_budget must be >= 1, got {token_budget}")
    if not target:
        raise ValueError("target mixture must not be empty")
    tot_w = float(sum(target.values()))
    if tot_w <= 0 or any(v < 0 for v in target.values()):
        raise ValueError("target weights must be >= 0 with a positive sum")

    tok = (
        F.col(tokens_col) if tokens_col else token_count(F.col(text_col))
    ).cast("long")
    rk = F.md5(F.concat_ws(":", F.lit(str(int(seed))),
                           F.col(id_col).cast("string")))
    key = F.struct(
        F.col(by).cast("string").alias("s"),
        rk.alias("r"),
        F.col(id_col).alias("i"),
    )
    st = _stream_starts(docs, id_col, tok, key, checkpoint=checkpoint)

    # group offsets: one row per group — exclusive prefix of group totals
    # in the SAME (string-ascending) order the composite key sorts by.
    # The frame is groups-count-sized, so the single-partition window is
    # a dim-table operation, not a data-volume one.
    grp = st.groupBy(F.col("__k.s").alias("__src")).agg(
        F.sum("__sz").alias("__gt"))
    w_off = (
        Window.orderBy("__src")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = grp.withColumn(
        "__goff", F.coalesce(F.sum("__gt").over(w_off), F.lit(0)))

    budget = F.coalesce(
        *(
            [
                F.when(F.col("__src") == k,
                       F.lit(float(v) * token_budget / tot_w))
                for k, v in target.items()
            ]
            + [F.lit(0.0)]
        )
    )
    kept = (
        st.join(F.broadcast(grp), on=st["__k.s"] == grp["__src"])
        .where((F.col("__start") - F.col("__goff")) < budget)
        .select(F.col(id_col).alias("__keep_id"))
    )
    return docs.join(
        kept, on=docs[id_col] == kept["__keep_id"], how="inner"
    ).drop("__keep_id")


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str | None = None,
    source_col: str | None = None,
) -> DataFrame:
    """The data-card summary every corpus release ships with, in ONE
    aggregation pass: ``(metric, value)`` rows covering volume
    (documents, tokens, chars), shape (mean/median/max tokens per doc),
    exact duplication (distinct normalized fingerprints -> dup_rate),
    mean heuristic quality, and — when the columns exist — language and
    source cardinality.

    All values are deterministic doubles (fractional metrics rounded to
    6 decimals; the median is the interpolated percentile both engines
    share), so the whole card is oracle-replayable.

    Scale shape: one projection computes per-doc stats (token count,
    quality, fingerprint — text never leaves the row), then ONE global
    aggregate with map-side partials; the two count-distincts
    (fingerprints, and languages/sources) expand it to Spark's standard
    multi-distinct plan — still fingerprint-grain exchanges, never text.
    The result is a handful of rows.
    """
    from .text import fingerprint, quality_score, words

    c = F.col(text_col)
    per = docs.select(
        F.size(words(c)).alias("__tok"),  # NULL text -> -1? size(NULL)=-1
        F.length(F.coalesce(c, F.lit(""))).alias("__chars"),
        quality_score(c).alias("__q"),
        fingerprint(c).alias("__fp"),
        *([F.col(lang_col).alias("__lang")] if lang_col else []),
        *([F.col(source_col).alias("__src")] if source_col else []),
    ).withColumn(
        "__tok",
        F.when(F.col("__tok") > 0, F.col("__tok")).otherwise(F.lit(None)),
    )
    aggs = [
        F.count("*").cast("double").alias("n_docs"),
        F.sum(F.when(F.col("__tok").isNull(), 1).otherwise(0))
        .cast("double").alias("n_empty"),
        F.sum(F.coalesce(F.col("__tok"), F.lit(0)))
        .cast("double").alias("total_tokens"),
        F.sum("__chars").cast("double").alias("total_chars"),
        F.round(F.avg("__tok"), 6).alias("tokens_mean"),
        F.round(F.percentile(F.col("__tok"), F.lit(0.5)), 6)
        .alias("tokens_p50"),
        F.max(F.coalesce(F.col("__tok"), F.lit(0)))
        .cast("double").alias("tokens_max"),
        F.countDistinct(
            F.when(F.col("__tok").isNotNull(), F.col("__fp"))
        ).cast("double").alias("distinct_docs"),
        F.round(F.avg(F.when(F.col("__tok").isNotNull(), F.col("__q"))), 6)
        .alias("quality_mean"),
    ]
    if lang_col:
        aggs.append(F.countDistinct("__lang").cast("double")
                    .alias("n_langs"))
    if source_col:
        aggs.append(F.countDistinct("__src").cast("double")
                    .alias("n_sources"))
    one = per.agg(*aggs)
    one = one.withColumn(
        "dup_rate",
        F.when(
            F.col("n_docs") - F.col("n_empty") > 0,
            F.round(
                1.0 - F.col("distinct_docs")
                / (F.col("n_docs") - F.col("n_empty")), 6,
            ),
        ).otherwise(F.lit(None).cast("double")),
    )
    names = ["n_docs", "n_empty", "total_tokens", "total_chars",
             "tokens_mean", "tokens_p50", "tokens_max", "distinct_docs",
             "dup_rate", "quality_mean"]
    if lang_col:
        names.append("n_langs")
    if source_col:
        names.append("n_sources")
    entries = F.array(*[
        F.struct(F.lit(n).alias("metric"),
                 F.col(n).cast("double").alias("value"))
        for n in names
    ])
    return one.select(F.explode(entries).alias("m")).select(
        "m.metric", "m.value"
    )


def pack_whole_docs(
    docs: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
    shard_docs: int = 512,
) -> DataFrame:
    """Whole-document sequence packing (the encoder/T5/eval-harness
    discipline — documents are NEVER split across context windows;
    contrast :func:`pack_sequences`, the GPT concat-and-chunk planner
    where they are): next-fit in ``id_col`` order — a document joins the
    current bin when it fits, else opens a new one. A document LONGER
    than ``capacity`` gets a bin of its own and is flagged ``oversize``
    (the caller truncates or re-chunks; silently splitting would defeat
    the whole point of this packing style). Zero-token documents are
    dropped (nothing to pack).

    Returns ``(id_col, n_tokens, bin_id, bin_fill, oversize)`` —
    ``bin_fill`` is the bin's running total AFTER this document, so
    ``max(bin_fill) per bin`` is the bin's load and
    ``avg(load) / capacity`` the packing efficiency.

    Scale shape: next-fit is a sequential recurrence (each decision
    depends on the running fill), which cannot be a prefix sum — so the
    stream is cut into DETERMINISTIC shards of ``shard_docs`` documents
    (0-based rank in ``id_col`` order, DIV ``shard_docs`` —
    data-independent boundaries, which keeps the op oracle-replayable)
    and the recurrence runs per shard in an Arrow-batched
    ``applyInPandas``. The rank itself comes from
    :func:`_stream_starts` with UNIT weights — the distributed
    prefix-sum (range-partition by id, per-partition running count,
    driver-lifted per-partition offsets), never a global single-task
    ``Window.orderBy``; every stage stays parallel at any corpus size.
    Bins never cross shards: the cost is at most one partial bin per
    ``shard_docs`` documents — bounded, documented waste in exchange
    for full parallelism. Bin ids are globally unique
    (``shard * 2^32 + local``).

    ``id_col`` values should be unique: rank positions are unique
    regardless (running count, not dense_rank), but the relative order
    of EQUAL ids follows the snapshotted physical partitioning rather
    than a stable total order."""
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    if shard_docs < 1:
        raise ValueError("shard_docs must be >= 1")
    import pandas as pd

    tok = (
        F.col(tokens_col) if tokens_col else token_count(F.col(text_col))
    ).cast("long")
    nz = docs.where(tok > 0)
    ranked = _stream_starts(
        nz, id_col, F.lit(1), F.col(id_col), carry=(tok.alias("__tok"),)
    )
    sized = ranked.select(
        F.col(id_col),
        F.col("__tok").alias("__sz"),
        F.col("__start").alias("__rn"),
    ).withColumn("__shard", F.expr(f"__rn DIV {int(shard_docs)}"))
    cap = int(capacity)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        pdf = pdf.sort_values("__rn")
        shard = int(pdf["__shard"].iloc[0])
        fills, bins, overs = [], [], []
        fill, local = 0, -1
        for sz in pdf["__sz"]:
            sz = int(sz)
            if local < 0 or fill + sz > cap:
                local += 1
                fill = sz
            else:
                fill += sz
            fills.append(fill)
            bins.append((shard << 32) + local)
            overs.append(sz > cap)
        out = pdf[[id_col, "__sz"]].copy()
        out.columns = ["__id", "n_tokens"]
        out["bin_id"] = bins
        out["bin_fill"] = fills
        out["oversize"] = overs
        return out

    id_type = dict(docs.select(id_col).dtypes)[id_col]
    out = sized.groupBy("__shard").applyInPandas(
        pack,
        schema=(f"__id {id_type}, n_tokens long, bin_id long, "
                "bin_fill long, oversize boolean"),
    )
    return out.withColumnRenamed("__id", id_col)
