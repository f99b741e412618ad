"""WordPiece tokenizer family (BERT-style): likelihood-scored merge
training and greedy longest-match-first encoding, pure JVM expressions.

Completes the tokenizer triptych next to char/byte BPE
(:mod:`.text`) and unigram-LM (:mod:`.unigram`):

* **Training** is BPE-shaped (iterative pair merges over a distinct-word
  frequency table) but the merge choice maximizes the LIKELIHOOD score
  ``count(pair) / (count(left) * count(right))`` instead of raw pair
  count — the WordPiece objective (Schuster & Nakajima 2012; the scoring
  rule HuggingFace ``tokenizers`` documents for its WordPiece trainer).
  Continuation symbols carry the BERT ``##`` prefix from symbolization
  on, so merged pieces are word-start (``"he"``) or continuation
  (``"##he"``) by construction.
* **Encoding** is the BERT inference algorithm — per word, repeatedly
  take the LONGEST vocab piece matching at the cursor (``##``-prefixed
  off word start); any position with no match makes the whole word
  ``[UNK]``. Implemented as one ``aggregate`` fold per word with the
  piece set let-bound as a ``map`` column — O(len * max_piece_len) map
  probes per word, zero shuffle, zero UDF, zero join.

Scale shape: training is ONE corpus-sized word-grain shuffle (the
distinct-word frequency table, shared with :func:`.text.bpe_train`'s
loop) then per merge one partial-agg pair count + one tiny symbol-count
aggregate + a one-row argmax collect. Encoding is a single shuffle-free
projection; the vocabulary rides the plan ONCE (let-bound map), so plan
size is O(1) in document count and O(vocab) exactly once.

Reference semantics model: google-research/bert tokenization.py
WordpieceTokenizer (greedy longest-match-first, ## continuations,
whole-word UNK on miss) — public algorithm, reimplemented as Spark SQL
expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..nestedframe.expr import _sql_literal
from ..plans.inspect import plan_nodes
from ..session import FrameChain, drop_zip_finders, snapshot
from .text import words

__all__ = [
    "wordpiece_train",
    "wordpiece_pieces",
    "wordpiece_encode",
    "wordpiece_encode_vocab",
    "wordpiece_decode",
]


# Word -> "h ##e ##l ##l ##o" over a bound SQL string `__w`: first char
# bare, every later char ##-prefixed (BERT continuation convention).
_WP_SYMS_SQL = (
    "array_join(transform(sequence(1, length(__w)), __i -> "
    "CASE WHEN __i = 1 THEN substr(__w, 1, 1) "
    "ELSE '##' || substr(__w, __i, 1) END), ' ')"
)


def _local_merges_df(spark, merges) -> DataFrame:
    """(step, left, right, merged, n, lc, rc) as a LocalRelation: the
    merge list always lives on the driver, and an Arrow-table
    createDataFrame keeps its collects driver-only (the classic tuple
    path plans a LogicalRDD — every downstream collect is a cluster
    job)."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table({
        "step": pa.array([m[0] for m in merges], pa.int32()),
        "left": pa.array([m[1] for m in merges], pa.string()),
        "right": pa.array([m[2] for m in merges], pa.string()),
        "merged": pa.array([m[3] for m in merges], pa.string()),
        "n": pa.array([m[4] for m in merges], pa.int64()),
        "lc": pa.array([m[5] for m in merges], pa.int64()),
        "rc": pa.array([m[6] for m in merges], pa.int64()),
    }))


def _wp_merge_sql(syms_sql: str, left: str, right: str, merged: str) -> str:
    """One WordPiece merge over a single-spaced symbol string — the same
    doubled-boundary replace as :func:`.text._merge_sql` (Sennrich
    re.sub semantics, exact under adjacent repeats), except the
    replacement is the ``##``-stripped concatenation ``merged`` rather
    than ``left || right``."""
    return (
        f"trim(replace(replace(' ' || replace({syms_sql}, ' ', '  ') || ' ', "
        f"' ' || {_sql_literal(left)} || '  ' || {_sql_literal(right)} || ' ', "
        f"' ' || {_sql_literal(merged)} || ' '), "
        f"'  ', ' '))"
    )


def wordpiece_train(
    docs: DataFrame,
    n_merges: int | None = None,
    text_col: str = "text",
    min_pair_count: int = 1,
    checkpoint_every: int = 8,
    vocab_size: int | None = None,
    driver_threshold: int | None = None,
):
    """Train ``n_merges`` WordPiece merges — or, like the HF trainer,
    pass ``vocab_size=`` instead and the merge budget becomes
    ``vocab_size - |base alphabet|`` (bare + ``##`` single-char symbols
    actually seen in the corpus; one tiny distinct-count job). Training
    may stop early when no pair clears ``min_pair_count``, so
    ``vocab_size`` is a cap, not a promise. Returns ``(merges, vocab)``:

    * ``merges``: DataFrame ``(step, left, right, merged, n, lc, rc)``
      — the chosen pair per step with its pair count ``n`` and the
      operand symbol counts ``lc``/``rc`` (all exact longs; the score
      that was maximized is ``n / (lc * rc)``, reconstructible and
      engine-portable without shipping a float).
    * ``vocab``: the ``(word, wc, syms)`` frame after all merges.

    Small-vocab fast path (``driver_threshold``, default
    :data:`.text.DRIVER_VOCAB_THRESHOLD`): when the distinct-word table
    has at most that many rows (bounded ``limit(t+1).count()`` probe),
    it collects once and :func:`.text._driver_merge_loop` finishes every
    merge locally with incremental pair/symbol bookkeeping — identical
    merges, zero per-step Spark jobs. This is the production-trainer
    shape: ONE corpus-sized distributed count/collapse, then a local
    merge recurrence over the (tiny) vocabulary table. Pass
    ``driver_threshold=0`` to force the distributed loop.

    In the distributed path the per-step argmax runs DISTRIBUTED: pair
    counts are a partial aggregation over the word table, symbol counts
    are a tiny broadcast side (alphabet + merges so far), and only the
    single winning row is collected. Ties break deterministically
    (score desc, pair count desc, left asc, right asc) — the same ORDER
    BY the DuckDB oracle replays. Both paths score with the two-division
    form ``(n / lc) / rc`` in double, never the int64 product
    ``lc * rc`` (which would silently overflow at symbol counts beyond
    ~3e9 in non-ANSI Spark)."""
    if (n_merges is None) == (vocab_size is None):
        raise ValueError("pass exactly one of n_merges / vocab_size")
    if n_merges is not None and n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if min_pair_count < 1:
        raise ValueError("min_pair_count must be >= 1")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    spark = docs.sparkSession
    vocab_df = snapshot(
        docs.select(F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("wc"))
        .withColumn("syms", F.expr(_WP_SYMS_SQL.replace("__w", "word")))
    )
    if vocab_size is not None:
        n_base = (
            vocab_df.select(
                F.explode(F.expr("split(syms, ' ')")).alias("s")
            ).distinct().count()
        )
        n_merges = vocab_size - n_base
        if n_merges < 1:
            raise ValueError(
                f"vocab_size {vocab_size} <= base alphabet {n_base}"
            )
    from .text import DRIVER_VOCAB_THRESHOLD, _driver_merge_loop

    if driver_threshold is None:
        driver_threshold = DRIVER_VOCAB_THRESHOLD
    if driver_threshold > 0:
        probe = vocab_df.limit(driver_threshold + 1).count()
        if probe <= driver_threshold:
            import pyarrow as pa

            rows = vocab_df.collect()
            merges, words_out = _driver_merge_loop(
                rows, n_merges, min_pair_count, wordpiece=True
            )
            # Arrow-table construction -> a true LocalRelation (the
            # classic tuple path plans a LogicalRDD whose every collect
            # is a cluster job); downstream wordpiece_pieces /
            # piece-collects then stay driver-only
            return (
                _local_merges_df(spark, merges),
                spark.createDataFrame(pa.table({
                    "word": pa.array(
                        [w[0] for w in words_out], pa.string()),
                    "wc": pa.array(
                        [w[1] for w in words_out], pa.int64()),
                    "syms": pa.array(
                        [w[2] for w in words_out], pa.string()),
                })),
            )
    merges = []
    with FrameChain(vocab_df, checkpoint_every) as chain:
        for step in range(1, n_merges + 1):
            vocab_df = chain.df
            exploded = vocab_df.select(
                F.expr("split(syms, ' ')").alias("sl"), F.col("wc")
            )
            sym_counts = (
                exploded.select(F.explode("sl").alias("s"), F.col("wc"))
                .groupBy("s")
                .agg(F.sum("wc").cast("long").alias("sc"))
            )
            pair_counts = (
                exploded.select(
                    F.explode(
                        F.expr(
                            "CASE WHEN size(sl) >= 2 THEN transform("
                            "sequence(1, size(sl) - 1), __i -> "
                            "struct(element_at(sl, __i) AS l, "
                            "element_at(sl, __i + 1) AS r)) "
                            "ELSE CAST(array() AS "
                            "array<struct<l: string, r: string>>) END"
                        )
                    ).alias("p"),
                    F.col("wc"),
                )
                .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
                .agg(F.sum("wc").cast("long").alias("n"))
            )
            best = (
                pair_counts.join(
                    F.broadcast(
                        sym_counts.select(
                            F.col("s").alias("l"), F.col("sc").alias("lc")
                        )
                    ),
                    on="l",
                )
                .join(
                    F.broadcast(
                        sym_counts.select(
                            F.col("s").alias("r"), F.col("sc").alias("rc")
                        )
                    ),
                    on="r",
                )
                .select(
                    "l", "r", "n", "lc", "rc",
                    # two divisions, never the lc*rc long product: long*long
                    # silently overflows past ~3e9 counts in non-ANSI Spark
                    (F.col("n") / F.col("lc") / F.col("rc")).alias("score"),
                )
                .orderBy(
                    F.col("score").desc(), F.col("n").desc(),
                    F.col("l").asc(), F.col("r").asc(),
                )
                .limit(1)
                .collect()
            )
            if not best or best[0]["n"] < min_pair_count:
                break
            l_, r_, n_ = best[0]["l"], best[0]["r"], best[0]["n"]
            lc_, rc_ = best[0]["lc"], best[0]["rc"]
            merged = l_ + (r_[2:] if r_.startswith("##") else r_)
            merges.append((step, l_, r_, merged, n_, lc_, rc_))
            chain.advance(vocab_df.withColumn(
                "syms", F.expr(_wp_merge_sql("syms", l_, r_, merged))
            ))
        vocab_df = chain.result()
    return _local_merges_df(spark, merges), vocab_df


def wordpiece_pieces(merges, vocab: DataFrame) -> list[str]:
    """The piece inventory a trained model encodes with: the full base
    alphabet (bare + ``##`` single-char forms from the PRE-merge
    symbolization of every training word) plus each merge's ``merged``
    piece, sorted. This is the ``vocab.txt`` equivalent — pass it to
    :func:`wordpiece_encode`.

    The alphabet comes from re-symbolizing ``vocab``'s ``word`` column,
    NOT from the post-merge ``syms``: a character whose every occurrence
    was absorbed into merges would be missing from the post-merge
    symbols, and dropping it would make any unseen word containing it a
    whole-word ``[UNK]`` — HF/BERT trainers always retain the initial
    alphabet."""
    # Driver-local vocab (the small-vocab trainer fast path hands back a
    # createDataFrame LocalRelation): symbolize on the driver — the
    # distributed explode+distinct below would spend two exchanges and a
    # cluster job re-deriving an alphabet from rows that already live in
    # driver memory. Python twin of _WP_SYMS_SQL: first char bare, later
    # chars ##-prefixed (both sides index by code point).
    try:
        is_local = next(plan_nodes(vocab, "optimized")).name == "LocalRelation"
    except Exception:
        is_local = False
    if is_local:
        base = set()
        for r in vocab.select("word").collect():
            w = r["word"]
            if not w:
                continue
            base.add(w[0])
            base.update("##" + c for c in w[1:])
    else:
        base = {
            r["s"]
            for r in vocab.select(
                F.explode(
                    F.expr(
                        "split("
                        + _WP_SYMS_SQL.replace("__w", "word")
                        + ", ' ')"
                    )
                ).alias("s")
            ).distinct().collect()
        }
    if hasattr(merges, "collect"):
        merges = merges.collect()
    for m in merges:
        base.add(m["merged"] if hasattr(m, "__fields__") else m[3])
    return sorted(base)


def _greedy_sql(vm_sql: str, maxp: int, unk: str) -> str:
    """Greedy longest-match-first fold over a bound word ``__w`` with the
    piece set bound as a map ``{vm_sql}`` (piece -> 1). One aggregate of
    length(word) steps; each step probes at most ``maxp`` candidate
    lengths LONGEST-FIRST (descending ``sequence`` + ``filter`` keeps
    order, so ``element_at(.., 1)`` is the longest hit) and either
    advances the cursor past the matched piece or poisons the word
    (whole-word ``[UNK]`` — BERT semantics)."""
    piece = (
        "CASE WHEN __st.p = 1 THEN substr(__w, __st.p, __l) "
        "ELSE '##' || substr(__w, __st.p, __l) END"
    )
    return (
        "aggregate(sequence(1, length(__w)), "
        "named_struct('p', 1, 't', CAST(array() AS array<string>), "
        "'b', false), "
        "(__st, __z) -> CASE WHEN __st.b OR __st.p > length(__w) THEN __st "
        "ELSE coalesce(try_element_at(transform("
        f"filter(sequence(least({maxp}, length(__w) - __st.p + 1), 1, -1), "
        f"__l -> map_contains_key({vm_sql}, {piece})), "
        f"__l -> named_struct('p', __st.p + __l, "
        f"'t', array_append(__st.t, {piece}), 'b', false)), 1), "
        "named_struct('p', __st.p, 't', __st.t, 'b', true)) END, "
        f"__st -> CASE WHEN __st.b THEN array({_sql_literal(unk)}) "
        "ELSE __st.t END)"
    )


def wordpiece_encode(
    docs: DataFrame,
    pieces,
    text_col: str = "text",
    out: str = "tokens",
    unk: str = "[UNK]",
) -> DataFrame:
    """Encode every document with a WordPiece vocabulary: adds ``out`` =
    ``array<string>`` of pieces (greedy longest-match-first per word,
    ``##`` continuations, whole-word ``unk`` on any miss), ``{out}_n`` =
    token count and ``{out}_unk`` = UNK count. NULL text yields NULLs.

    ``pieces``: a list of piece strings, or a DataFrame with a ``piece``
    column (collected — vocabularies are driver-sized by definition).

    One shuffle-free projection. The vocabulary becomes ONE ``map``
    literal let-bound through a single-element ``transform`` lambda
    (same plan-size guard as the PSL rule map, ``web.py
    _registrable_expr``): the fold probes it O(len * max_piece_len)
    times but the plan carries it once.

    >>> df = spark.createDataFrame([(0, "unaffable")],
    ...                            "id long, text string")
    >>> wordpiece_encode(df, ["un", "##aff", "##able"]).collect()[0]["tokens"]
    ['un', '##aff', '##able']
    """
    if isinstance(pieces, DataFrame):
        pieces = [r["piece"] for r in pieces.select("piece").collect()]
    pieces = sorted(set(pieces))
    if not pieces:
        raise ValueError("pieces must be non-empty")
    maxp = max(
        (len(p) - 2 if p.startswith("##") else len(p)) for p in pieces
    )
    maxp = max(maxp, 1)
    vm = (
        "map_from_arrays(array("
        + ", ".join(_sql_literal(p) for p in pieces)
        + "), array_repeat(1, " + str(len(pieces)) + "))"
    )
    per_word = _greedy_sql("__b.m", maxp, unk)
    qt = "`" + text_col.replace("`", "``") + "`"
    w_arr = f"filter(split(lower({qt}), '\\\\s+'), __t -> __t <> '')"
    toks = (
        f"element_at(transform(array(named_struct('m', {vm})), "
        f"__b -> flatten(transform({w_arr}, __w -> {per_word}))), 1)"
    )
    out_df = docs.withColumn(
        out,
        F.expr(f"CASE WHEN {qt} IS NULL THEN NULL ELSE {toks} END"),
    )
    return (
        out_df.withColumn(
            f"{out}_n",
            F.when(F.col(text_col).isNull(), F.lit(None).cast("long"))
            .otherwise(F.size(F.col(out)).cast("long")),
        )
        .withColumn(
            f"{out}_unk",
            F.when(F.col(text_col).isNull(), F.lit(None).cast("long"))
            .otherwise(
                F.expr(
                    f"CAST(size(filter({out}, __t -> "
                    f"__t = {_sql_literal(unk)})) AS LONG)"
                )
            ),
        )
    )


def wordpiece_encode_vocab(
    docs: DataFrame,
    pieces,
    text_col: str = "text",
    out: str = "tokens",
    unk: str = "[UNK]",
) -> DataFrame:
    """:func:`wordpiece_encode` through a DISTINCT-WORD cache — identical
    output, the scale path for corpora where per-occurrence DP work
    dominates: the greedy longest-match fold runs ONCE per distinct word.

    Zero-shuffle shape (round 10, the ``unigram_encode`` pattern):
    tokenization stays in SQL (the exact ``words()`` expression the
    oracle replays) and one Arrow-batched pass maps each document's word
    list to its token list, memoizing the per-word greedy fold so a word
    repeated across a task's documents is segmented once (the in-task
    analogue of the old distinct-word table). The piece set rides in the
    task closure (vocab-sized). This replaces the previous
    stamp/snapshot + posexplode + word-grain join + collect_list
    assembly — token-grain exchanges — with zero exchanges: document
    text never crosses the wire, only the JVM->Python Arrow boundary,
    once. The greedy fold is the bit-exact Python twin of
    :func:`_greedy_sql` (same longest-match-first probe order, same
    whole-word UNK poisoning; both sides index by code point). NULL text
    -> NULL tokens/counts; token-less text -> empty array."""
    import pyarrow as pa

    if isinstance(pieces, DataFrame):
        pieces = [r["piece"] for r in pieces.select("piece").collect()]
    pieces = sorted(set(pieces))
    if not pieces:
        raise ValueError("pieces must be non-empty")
    maxp = max(
        (len(p) - 2 if p.startswith("##") else len(p)) for p in pieces
    )
    maxp = max(maxp, 1)
    piece_set = frozenset(pieces)

    def greedy(w: str) -> list[str]:
        # Python twin of _greedy_sql: longest-match-first at each cursor,
        # ##-prefixed off word start, whole-word UNK when no piece fits
        n = len(w)
        toks: list[str] = []
        p = 0
        while p < n:
            hit = None
            for ln in range(min(maxp, n - p), 0, -1):
                cand = (
                    w[p:p + ln] if p == 0 else "##" + w[p:p + ln]
                )
                if cand in piece_set:
                    hit = (cand, ln)
                    break
            if hit is None:
                return [unk]
            toks.append(hit[0])
            p += hit[1]
        return toks

    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
    )

    n_col, unk_col = f"{out}_n", f"{out}_unk"
    base = docs
    base_names = [f.name for f in base.schema.fields]
    drop = [c for c in (out, n_col, unk_col) if c in base_names]
    if drop:
        # an existing output column is replaced (old withColumn semantics)
        base = base.drop(*drop)
    keep = list(base.schema.fields)
    keep_names = [f.name for f in keep]
    out_schema = StructType(
        keep + [
            StructField(out, ArrayType(StringType())),
            StructField(n_col, LongType()),
            StructField(unk_col, LongType()),
        ]
    )
    ws_col = "__wp_ws"
    with_ws = base.withColumn(ws_col, words(F.col(text_col)))

    def gen(batches):
        drop_zip_finders()
        memo: dict[str, list[str]] = {}
        for batch in batches:
            cols = {
                n: batch.column(i)
                for i, n in enumerate(batch.schema.names)
            }
            toks_out: list[list[str] | None] = []
            ns: list[int | None] = []
            unks: list[int | None] = []
            for ws in cols[ws_col].to_pylist():
                if ws is None:
                    toks_out.append(None)
                    ns.append(None)
                    unks.append(None)
                    continue
                acc: list[str] = []
                for w in ws:
                    seg = memo.get(w)
                    if seg is None:
                        seg = greedy(w)
                        memo[w] = seg
                    acc.extend(seg)
                toks_out.append(acc)
                ns.append(len(acc))
                unks.append(sum(1 for t in acc if t == unk))
            arrays = [cols[n] for n in keep_names]
            arrays.append(pa.array(toks_out, pa.list_(pa.string())))
            arrays.append(pa.array(ns, pa.int64()))
            arrays.append(pa.array(unks, pa.int64()))
            yield pa.RecordBatch.from_arrays(
                arrays, keep_names + [out, n_col, unk_col]
            )

    return with_ws.mapInArrow(gen, out_schema)


def wordpiece_decode(tokens: Column | str) -> Column:
    """Inverse of :func:`wordpiece_encode` up to UNK loss: ``##`` pieces
    concatenate onto the previous piece, bare pieces start a new
    space-separated word. Pure JVM expression."""
    col = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.ltrim(
        F.array_join(
            F.transform(
                col,
                lambda t: F.when(
                    t.startswith("##"), F.substring(t, 3, 1 << 30)
                ).otherwise(F.concat(F.lit(" "), t)),
            ),
            "",
        )
    )
