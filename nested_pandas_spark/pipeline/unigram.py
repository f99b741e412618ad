"""Unigram-LM (SentencePiece-style) subword tokenizer, distributed.

The other major subword family next to BPE (``text.bpe_train``): a
unigram language model over pieces, trained by EM and decoded by Viterbi
(Kudo 2018, "Subword Regularization", §3; the SentencePiece trainer).
This implementation is the deterministic *hard*-EM variant — the E-step
assigns each word its single Viterbi-best segmentation instead of
forward-backward expected counts — which keeps every quantity an exact
integer-weighted count and makes training reproducible to the bit.
The difference from soft EM is documented, deliberate, and test-pinned
against a pure-Python reference of the identical algorithm.

Scale shape (the same trick as ``bpe_train``): the corpus collapses ONCE
to a distinct-word frequency table — the only corpus-sized shuffle.
Seeding explodes substrings of *words* (bounded by max_piece_len x word
length), ranks them with a distributed top-k (TakeOrderedAndProject —
never a single-partition sort). Each EM iteration is one Arrow-batched
pass over the cached word table with the current piece table riding
in the task closure (vocab-sized, ~10^4 entries), followed by a
piece-grain count aggregation; the driver only ever collects
vocab-sized count rows. Encoding is a single zero-shuffle Arrow pass:
tokenization stays in SQL and each task Viterbi-segments its own
documents with a per-word memo (the in-task analogue of the distinct
word table) — document text never rides ANY shuffle.

EM is iterative and Viterbi is a per-word DP, but word length is
bounded — so the whole train+encode pipeline IS SQL-replayable by
unrolling: the driver gate runs a DuckDB oracle that chains three
unrolled Viterbi DP passes (two EM iterations + the final encode)
with ln-normalized integer counts, hash-comparing every document's
segmentation (``__spark_entry__._unigram_em_oracle``). Bit-level
correctness is additionally pinned by the Python-reference parity
suite in ``tests/test_unigram.py``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cached, drop_zip_finders
from .text import words

__all__ = [
    "unigram_seed",
    "unigram_train",
    "unigram_encode",
    "viterbi_segment",
]

# OOV single characters (absent even from the seed) get this logprob so
# the DP always completes; they surface as their own pieces.
_UNK_LOGP = -100.0


def viterbi_segment(word: str, logp: dict[str, float], max_len: int) -> list[str]:
    """Min-cost segmentation of ``word`` under piece logprobs.

    Deterministic tie-break: strictly-better-only updates while scanning
    split points left to right, so the EARLIEST predecessor (longest
    first piece among equals) wins. Unknown single chars cost
    ``_UNK_LOGP``."""
    n = len(word)
    best = [math.inf] * (n + 1)
    back = [0] * (n + 1)
    best[0] = 0.0
    for end in range(1, n + 1):
        for start in range(max(0, end - max_len), end):
            piece = word[start:end]
            lp = logp.get(piece)
            if lp is None:
                if end - start > 1:
                    continue
                lp = _UNK_LOGP
            cost = best[start] - lp
            if cost < best[end]:
                best[end] = cost
                back[end] = start
    out = []
    end = n
    while end > 0:
        start = back[end]
        out.append(word[start:end])
        end = start
    return out[::-1]


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    return (
        docs.select(F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )


def unigram_seed(
    docs: DataFrame,
    seed_size: int,
    text_col: str = "text",
    max_piece_len: int = 6,
) -> DataFrame:
    """Seed piece table: every substring (length 1..max_piece_len) of
    every word, weighted by word frequency; all single characters are
    kept unconditionally (coverage guarantee), multi-char pieces are the
    top ``seed_size`` by (count desc, piece asc).

    One corpus-sized shuffle (word counts) + one piece-grain count +
    one distributed top-k. Fully SQL-replayable (oracle-gated)."""
    return _seed_from_word_counts(
        _word_counts(docs, text_col), seed_size, max_piece_len
    )


def _seed_from_word_counts(
    wc: DataFrame, seed_size: int, max_piece_len: int
) -> DataFrame:
    """Seed pieces from an existing (word, wc) table — lets the trainer
    reuse its cached word-count table instead of re-scanning the
    corpus (the seed derives from word counts alone)."""
    if seed_size < 1:
        raise ValueError("seed_size must be >= 1")
    # substring(word, i, l) with column start/len needs the expr form
    subs = F.expr(
        f"flatten(transform(sequence(1, length(word)), i -> "
        f"transform(sequence(i, least(length(word), i + {max_piece_len - 1})), "
        f"j -> substring(word, i, j - i + 1))))"
    )
    counts = (
        wc.select(F.explode(subs).alias("piece"), "wc")
        .groupBy("piece")
        .agg(F.sum("wc").alias("n"))
    )
    chars = counts.where(F.length("piece") == 1)
    multi = (
        counts.where(F.length("piece") > 1)
        .orderBy(F.col("n").desc(), F.col("piece"))
        .limit(seed_size)
    )
    return chars.unionByName(multi).select("piece", F.col("n").cast("long").alias("n"))


def _viterbi_table(word_df: DataFrame, logp: dict[str, float], max_len: int) -> DataFrame:
    """(word, wc, pieces array) via one Arrow-batched pass; the piece
    table rides in the closure (vocab-sized)."""
    import pyarrow as pa

    def gen(batches):
        drop_zip_finders()
        for batch in batches:
            ws = batch.column(0).to_pylist()
            wcs = batch.column(1).to_pylist()
            pieces = [viterbi_segment(w, logp, max_len) for w in ws]
            yield pa.RecordBatch.from_pydict(
                {
                    "word": pa.array(ws, pa.string()),
                    "wc": pa.array(wcs, pa.int64()),
                    "pieces": pa.array(pieces, pa.list_(pa.string())),
                }
            )

    return word_df.select("word", "wc").mapInArrow(
        gen, "word string, wc long, pieces array<string>"
    )


def unigram_train(
    docs: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    *,
    max_piece_len: int = 6,
    seed_size: int | None = None,
    n_iters: int = 4,
    min_count: int = 2,
) -> DataFrame:
    """Train a unigram piece vocabulary; returns (piece, logprob, count).

    Hard-EM: each iteration Viterbi-segments the distinct-word table
    under the current piece probabilities, re-counts pieces (weighted by
    word frequency), drops multi-char pieces seen fewer than
    ``min_count`` times, and renormalizes. After ``n_iters`` the vocab
    is pruned to the surviving single chars + the top multi-char pieces
    by (count desc, piece asc) up to ``vocab_size``. A char whose every
    occurrence is absorbed into larger pieces can drop out entirely —
    encode still covers any input via the UNK single-char fallback
    (``_UNK_LOGP``), so coverage never breaks.
    """
    if vocab_size < 1:
        raise ValueError("vocab_size must be >= 1")
    if n_iters < 1:
        raise ValueError("n_iters must be >= 1")
    if seed_size is None:
        seed_size = max(vocab_size * 4, 64)
    spark = docs.sparkSession
    with cached(_word_counts(docs, text_col)) as word_df:
        # seed from the cached word table: the corpus is scanned and
        # word-count-shuffled exactly ONCE for the whole training run
        # (round 10; previously the seed re-derived word counts from docs)
        seed = _seed_from_word_counts(word_df, seed_size, max_piece_len)
        counts = {r["piece"]: int(r["n"]) for r in seed.collect()}
        logp = _normalize(counts)
        for _ in range(n_iters):
            seg = _viterbi_table(word_df, logp, max_piece_len)
            rows = (
                seg.select(F.explode("pieces").alias("piece"), "wc")
                .groupBy("piece")
                .agg(F.sum("wc").alias("n"))
                .collect()
            )
            counts = {r["piece"]: int(r["n"]) for r in rows}
            kept = {
                p: n
                for p, n in counts.items()
                if len(p) == 1 or n >= min_count
            }
            logp = _normalize(kept)
            counts = kept
        chars = {p: n for p, n in counts.items() if len(p) == 1}
        multi = sorted(
            ((p, n) for p, n in counts.items() if len(p) > 1),
            key=lambda t: (-t[1], t[0]),
        )[: max(0, vocab_size - len(chars))]
        final = dict(chars)
        final.update(dict(multi))
        logp = _normalize(final)
        out_rows = sorted(
            ((p, logp[p], n) for p, n in final.items()),
            key=lambda t: (-t[2], t[0]),
        )
        # Arrow-table construction -> a true LocalRelation: every
        # unigram_encode call collects this vocab, and a LocalRelation
        # collect is driver-only (the classic tuple path plans a
        # LogicalRDD whose every collect is a cluster job)
        import pyarrow as pa

        return spark.createDataFrame(pa.table({
            "piece": pa.array([r[0] for r in out_rows], pa.string()),
            "logprob": pa.array([r[1] for r in out_rows], pa.float64()),
            "count": pa.array([r[2] for r in out_rows], pa.int64()),
        }))


def _normalize(counts: dict[str, int]) -> dict[str, float]:
    total = sum(counts.values())
    if total <= 0:
        raise ValueError("empty corpus: no pieces to normalize")
    return {p: math.log(n / total) for p, n in counts.items()}


def unigram_encode(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    out: str = "pieces",
    *,
    max_piece_len: int = 6,
) -> DataFrame:
    """Viterbi-encode documents against a trained (piece, logprob) table.

    Zero-shuffle shape (round 10): tokenization stays in SQL
    (``words()`` — the exact expression the trainer and the oracle use),
    and one Arrow-batched pass maps each document's word list to its
    concatenated piece list, memoizing the per-word Viterbi DP so a word
    repeated across a task's documents is segmented once (the in-task
    analogue of the old distinct-word table). The piece table rides in
    the task closure (vocab-sized). This replaces the previous
    stamp/snapshot + posexplode + word-grain join + collect_list
    assembly — four token-grain exchanges — with zero exchanges:
    document text never crosses the wire at all, only the JVM->Python
    Arrow boundary, once. NULL text -> NULL pieces; empty -> empty
    array."""
    import pyarrow as pa

    logp = {r["piece"]: float(r["logprob"]) for r in vocab.collect()}
    if not logp:
        raise ValueError("empty vocab")

    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
    )

    n_col = f"{out}_n"
    base_names = [f.name for f in docs.schema.fields]
    base = docs
    if out in base_names or n_col in base_names:
        # an existing output column is replaced (old withColumn semantics)
        base = docs.drop(out, n_col)
    keep = list(base.schema.fields)
    keep_names = [f.name for f in keep]
    out_schema = StructType(
        keep + [
            StructField(out, ArrayType(StringType())),
            StructField(n_col, LongType()),
        ]
    )
    ws_col = "__unigram_ws"
    with_ws = base.withColumn(ws_col, words(F.col(text_col)))
    max_len = max_piece_len

    def gen(batches):
        drop_zip_finders()
        memo: dict[str, list[str]] = {}
        for batch in batches:
            cols = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
            pieces: list[list[str] | None] = []
            ns: list[int | None] = []
            for ws in cols[ws_col].to_pylist():
                if ws is None:
                    pieces.append(None)
                    ns.append(None)
                    continue
                acc: list[str] = []
                for w in ws:
                    seg = memo.get(w)
                    if seg is None:
                        seg = viterbi_segment(w, logp, max_len)
                        memo[w] = seg
                    acc.extend(seg)
                pieces.append(acc)
                ns.append(len(acc))
            arrays = [cols[n] for n in keep_names]
            arrays.append(pa.array(pieces, pa.list_(pa.string())))
            arrays.append(pa.array(ns, pa.int64()))
            yield pa.RecordBatch.from_arrays(arrays, keep_names + [out, n_col])

    return with_ws.mapInArrow(gen, out_schema)
