"""Text analysis for large-scale training-data pipelines.

Language-ID (stopword heuristic), quality scoring, token counting, document
fingerprinting. All pure built-in expressions (regexp / split / aggregate
HOFs) — JVM-side, codegen'd, zero Python in the hot path, so they scan at
parquet speed on any cluster. Patterns are kept RE2-safe so a DuckDB oracle
can mirror them exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..nestedframe.expr import _sql_literal
from ..session import FrameChain, snapshot

__all__ = [
    "token_count",
    "token_entropy",
    "bpe_ish_token_count",
    "words",
    "word_ngrams",
    "lang_id",
    "quality_score",
    "quality_model_score",
    "QMODEL_WEIGHTS",
    "redact_pii",
    "repetition_ratio",
    "REDACTION_PATTERNS",
    "fingerprint",
    "unigram_logprob",
    "bigram_logprob",
    "kn_bigram_logprob",
    "hashed_tfidf",
    "add_text_stats",
    "bpe_pair_stats",
    "bpe_train",
    "bpe_encode",
    "BYTE_PRETOKEN_PATTERN",
    "pretokens",
    "byte_bpe_train",
    "byte_bpe_encode",
    "byte_bpe_encode_vocab",
    "byte_bpe_decode",
    "gopher_rules",
    "gopher_repetition",
    "STOPWORDS",
    "vocab",
    "corpus_divergence",
    "divergent_tokens",
    "oov_rate",
    "split_sentences",
    "sentence_stats",
    "normalize_text",
    "zipf_stats",
]

# Tiny stopword lists per language. Deliberately small and hard-coded: the
# heuristic needs only a handful of very high-frequency function words.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "is", "of", "to", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "den", "nicht", "mit"],
    "fr": ["le", "la", "les", "et", "est", "des", "un", "une", "dans", "que"],
    "es": ["el", "la", "los", "las", "es", "de", "y", "en", "que", "por"],
}

# BPE-ish pre-tokenizer: word pieces, numbers, or single non-space symbols.
# (RE2-compatible: no lookarounds.)
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def words(text: Column | str) -> Column:
    """Lower-cased whitespace tokens (empty strings removed)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), "\\s+"), lambda w: w != "")


def token_count(text: Column | str) -> Column:
    """Whitespace token count.

    Examples
    --------
    >>> df = spark.createDataFrame([("hello spark  world",)], "text string")
    >>> df.select(token_count("text").alias("n")).collect()[0]["n"]
    3
    """
    return F.size(words(text))


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count via the BPE-style regex."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(_BPE_RE), F.lit(0)))


def word_ngrams(text: Column | str, n: int) -> Column:
    """Word n-gram shingles (space-joined), per document. Built with a
    transform over token positions — no UDF."""
    # positions 0 .. size-n ; slice(arr, i+1, n) is 1-based
    return _ngrams_from_words(words(text), n)


def _ngrams_from_words(w: Column, n: int) -> Column:
    joined = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(w) - F.lit(n), F.lit(-1))),
        lambda i: F.array_join(F.slice(w, i + 1, n), " "),
    )
    return F.when(F.size(w) >= n, joined).otherwise(F.array().cast("array<string>"))


def _stopword_array(lang: str) -> Column:
    """Literal stopword array in ONE parsed expression (py4j round trip)
    instead of one F.lit call per word — lang_id builds one of these per
    language per query otherwise."""
    return F.expr(
        "array(" + ",".join(_sql_literal(s) for s in STOPWORDS[lang]) + ")")


def _stopword_hits(w: Column, lang: str) -> Column:
    arr = _stopword_array(lang)
    return F.size(F.filter(w, lambda t: F.array_contains(arr, t)))


def lang_id(text: Column | str, alias: str = "lang_pred",
            words_col: Column | None = None) -> Column:
    """Heuristic language ID: argmax of per-language stopword hit counts.

    Returns 'und' when no language scores a hit. Deterministic tie-break by
    language code order (en < de < fr < es resolved by greatest-first scan).
    Pass ``words_col`` (a bound column from :func:`words`) to avoid
    re-tokenizing per language.
    """
    w = words_col if words_col is not None else words(text)
    scores = [(lang, _stopword_hits(w, lang)) for lang in STOPWORDS]
    best = F.lit("und")
    best_score = F.lit(0)
    # iterate in reverse so earlier languages win ties
    for lang, score in reversed(scores):
        best = F.when(score >= best_score, F.lit(lang)).otherwise(best)
        best_score = F.when(score >= best_score, score).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("und")).alias(alias)


def quality_score(text: Column | str, alias: str = "quality",
                  words_col: Column | None = None) -> Column:
    """Composite quality in [0,1]: length band + punctuation ratio +
    stopword presence + mean word length band. The usual cheap pre-filter
    before expensive dedup/model scoring."""
    c = F.col(text) if isinstance(text, str) else text
    w = words_col if words_col is not None else words(c)
    n_chars = F.length(c)
    n_words = F.size(w)
    n_punct = F.size(F.regexp_extract_all(c, F.lit("[,.!?;:]"), F.lit(0)))
    sw = F.size(F.filter(w, lambda t: F.array_contains(
        _stopword_array("en"), t)))
    mean_wlen = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    len_ok = F.when((n_chars >= 200) & (n_chars <= 50000), 1.0).otherwise(0.0)
    punct_ok = F.when((n_chars > 0) & (n_punct / n_chars <= 0.1), 1.0).otherwise(0.0)
    sw_ok = F.when((n_words > 0) & (sw / n_words >= 0.05), 1.0).otherwise(0.0)
    wlen_ok = F.when((mean_wlen >= 3) & (mean_wlen <= 12), 1.0).otherwise(0.0)
    return ((len_ok + punct_ok + sw_ok + wlen_ok) / 4.0).alias(alias)


# Default coefficients for the logistic quality model below. The shape is
# what production pipelines learn with a fasttext/linear classifier on
# labeled pages; the NUMBERS here are just a plausible hand-set instance
# (favor stopword-dense prose of moderate word length, penalize punctuation
# soup). Swap in trained weights without touching the plan.
QMODEL_WEIGHTS: dict[str, float] = {
    "bias": -1.5,
    "log_tokens": 0.35,
    "avg_word_len": 0.12,
    "punct_ratio": -4.0,
    "stopword_ratio": 2.5,
}


def quality_model_score(text: Column | str, weights: dict[str, float] | None = None,
                        alias: str = "q_model",
                        words_col: Column | None = None) -> Column:
    """Model-based quality score: a logistic regression over cheap text
    features, evaluated entirely JVM-side (the classifier-filtering stage of
    an LLM data pipeline, with the weight vector folded into the plan as
    literals — scoring 100 TB is one codegen'd projection, no model server,
    no UDF).

    ``score = sigmoid(b + w1*ln(1+tokens) + w2*avg_word_len +
    w3*punct_ratio + w4*stopword_ratio)``; NULL text scores NULL.
    """
    wts = dict(QMODEL_WEIGHTS, **(weights or {}))
    c = F.col(text) if isinstance(text, str) else text
    w = words_col if words_col is not None else words(c)
    t = F.size(w).cast("double")
    n_chars = F.length(c).cast("double")
    awl = F.when(t > 0, n_chars / t).otherwise(F.lit(0.0))
    punct = F.when(
        n_chars > 0,
        F.size(F.regexp_extract_all(c, F.lit("[,.!?;:]"), F.lit(0))) / n_chars,
    ).otherwise(F.lit(0.0))
    stop = F.when(t > 0, _stopword_hits(w, "en") / t).otherwise(F.lit(0.0))
    z = (
        F.lit(wts["bias"])
        + F.lit(wts["log_tokens"]) * F.log1p(t)
        + F.lit(wts["avg_word_len"]) * awl
        + F.lit(wts["punct_ratio"]) * punct
        + F.lit(wts["stopword_ratio"]) * stop
    )
    return (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias(alias)


REDACTION_PATTERNS: dict[str, tuple[str, str]] = {
    # pattern -> replacement; RE2-compatible (no backrefs/lookaround) so the
    # same regex runs identically in Spark (Java regex) and DuckDB (RE2),
    # and stays linear-time on adversarial inputs at corpus scale.
    # insertion order is application order: specific shapes (email, ip, id)
    # must run before the greedy phone pattern, which would otherwise eat
    # any digits-and-dashes run (e.g. an SSN) as a phone number
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    "ssn_like": (r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ID>"),
    "phone": (r"\+?[0-9][0-9()\-\s]{7,}[0-9]", "<PHONE>"),
}


def redact_pii(text: Column | str, kinds: list[str] | None = None,
               alias: str = "text_redacted") -> Column:
    """Replace common PII shapes with typed placeholders — the standard
    pre-training scrub pass. Pure ``regexp_replace`` chain: JVM-side,
    single pass over the corpus, no shuffle.

    Order matters (see ``REDACTION_PATTERNS``): specific shapes run before
    the greedy phone pattern.
    """
    c = F.col(text) if isinstance(text, str) else text
    for kind in kinds or list(REDACTION_PATTERNS):
        pat, repl = REDACTION_PATTERNS[kind]
        c = F.regexp_replace(c, pat, repl)
    return c.alias(alias)


def repetition_ratio(text: Column | str, alias: str = "repetition",
                     words_col: Column | None = None) -> Column:
    """1 - distinct_words/words: near 0 for natural text, near 1 for
    degenerate repetition (boilerplate, keyword stuffing) — a standard
    cheap quality signal. Per-row HOF arithmetic, no shuffle."""
    c = F.col(text) if isinstance(text, str) else text
    w = words_col if words_col is not None else words(c)
    n = F.size(w)
    return (
        F.when(n > 0, 1.0 - F.size(F.array_distinct(w)) / n).otherwise(0.0)
    ).alias(alias)


def fingerprint(text: Column | str, alias: str = "fingerprint") -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized,
    lower-cased text. Stable across engines (md5 is bit-identical in Spark
    and DuckDB), suitable as an exact-dup grouping key."""
    c = F.col(text) if isinstance(text, str) else text
    normalized = F.trim(F.regexp_replace(F.lower(c), "\\s+", " "))
    return F.md5(normalized).alias(alias)


def add_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Convenience: append token_count, bpe token count, lang_pred, quality,
    fingerprint columns. The tokenizer output is staged into a bound column
    first so each stat reads it instead of re-splitting the text (an
    expression repeated across stats would re-tokenize once per stat)."""
    from pyspark.sql.functions import col

    staged = df.select("*", words(text_col).alias("__w"))
    return staged.select(
        *[col(c) for c in df.columns],
        F.size("__w").alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_bpe_tokens"),
        lang_id(text_col, words_col=col("__w")),
        quality_score(text_col, words_col=col("__w")),
        fingerprint(text_col),
    )


def vocab(
    docs: "DataFrame",
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int | None = None,
    min_count: int = 1,
) -> "DataFrame":
    """Corpus token-frequency table: ``(token, n, df)`` — occurrence count
    and document frequency per lower-cased whitespace token, ordered by
    (n desc, token asc). The vocabulary-building / corpus-statistics pass
    (feeds tokenizer training, stopword discovery, OOV analysis).

    ``top_k`` truncates deterministically (total order via the token
    tie-break); with ``top_k=None`` the table returns UNSORTED —
    ``min_count`` drops the long unique tail BEFORE any ordering, and a
    global sort of a web-scale vocabulary is exactly the stage to avoid.

    Scale shape: one explode + one hash-keyed partial-agg shuffle (map-side
    combine collapses each partition to its distinct tokens); the only
    sort is the ``top_k`` TakeOrdered (bounded per-partition heap).
    """
    toks = docs.select(
        F.col(id_col).alias("__doc_tag"),
        F.explode(words(F.col(text_col))).alias("token"),
    )
    agg = toks.groupBy("token").agg(
        F.count("*").alias("n"),
        F.count_distinct("__doc_tag").alias("df"),
    )
    if min_count > 1:
        agg = agg.where(F.col("n") >= min_count)
    if top_k is not None:
        # TakeOrdered top-k (bounded per-partition heap), never a full sort
        return agg.orderBy(F.col("n").desc(), F.col("token")).limit(top_k)
    # no top_k: return the aggregation unsorted — a global sort of a web-scale
    # vocabulary is exactly the stage this operator avoids
    return agg


def unigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_docs: DataFrame | None = None,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document mean unigram log-probability — the classic LM-based
    quality proxy (CCNet/CC-Net style: score each document against a
    language model; here the cheapest such model, an add-alpha-smoothed
    unigram distribution). Low (very negative) means = surprising/noisy
    text; near-zero means = high-probability text.

    Model: counts over ``model_docs`` (defaults to ``docs`` itself — score
    a corpus against a REFERENCE corpus by passing it here), smoothed as
    ``P(w) = (c(w) + alpha) / (T + alpha * (V + 1))`` where T = total model
    tokens, V = model vocabulary size; unseen tokens take c = 0.

    Output: (``id_col``, ``n_tokens``, ``mean_logp``) — every input doc
    appears, token-less docs with n_tokens = 0 and NULL mean_logp.

    Scale shape: the model corpus is tokenized ONCE into a snapshotted
    word-count table (vocabulary-bounded); the broadcast T/V totals
    re-aggregate that snapshot. Doc tokens shuffle once for the
    (doc token) x (vocab) equi-join, and the final per-doc mean is one
    more partial-agg shuffle on the doc id. No Python, no all-pairs, no
    skew beyond natural term frequency (AQE splits hot terms).
    """
    model_docs = docs if model_docs is None else model_docs
    toks = docs.select(
        F.col(id_col).alias("__doc"),
        F.explode(words(F.col(text_col))).alias("__term"),
    )
    # the model table is consumed twice (the broadcast totals AND the
    # scoring join); Spark's exchange reuse does not deduplicate the two
    # branches (the tokenizer's HOF lambdas defeat plan canonicalization),
    # so without a snapshot each consumer re-tokenizes and re-shuffles the
    # ENTIRE model corpus. Word grain — bounded by vocabulary, tiny vs the
    # corpus.
    vocab_counts = snapshot(
        model_docs.select(F.explode(words(F.col(text_col))).alias("__term"))
        .groupBy("__term")
        .agg(F.count("*").alias("__c"))
    )
    totals = vocab_counts.agg(
        F.sum("__c").alias("__T"), F.count("*").alias("__V")
    )
    scored = (
        toks.join(vocab_counts, on="__term", how="left")
        .crossJoin(F.broadcast(totals))
        .select(
            "__doc",
            F.log(
                (F.coalesce(F.col("__c"), F.lit(0)) + F.lit(float(alpha)))
                / (F.col("__T") + F.lit(float(alpha)) * (F.col("__V") + 1))
            ).alias("__lp"),
        )
    )
    per_doc = scored.groupBy("__doc").agg(
        F.count("*").alias("n_tokens"), F.avg("__lp").alias("mean_logp")
    )
    base = docs.select(F.col(id_col).alias("__doc"))
    return (
        base.join(per_doc, on="__doc", how="left")
        .select(
            F.col("__doc").alias(id_col),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            "mean_logp",
        )
    )


def hashed_tfidf(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Hashing-trick TF-IDF document vectors: a fixed-``dim``
    ``array<double>`` per document, no vocabulary to build or broadcast.

    Bucket of a term = md5-derived 32-bit hash mod ``dim`` (the engine's
    shared ``_H32`` formula, so a SQL oracle replays it exactly);
    ``idf = ln((N + 1) / (df + 1)) + 1`` (smoothed, sklearn-style);
    ``v[j] = sum of tf * idf`` over terms hashing to j, optionally
    L2-normalized. The output plugs straight into the similarity stack
    (``brute_force_topk`` / ``knn_join`` / ``quantize_embeddings``) —
    text near-dup search without an embedding model.

    Scale shape: tokens shuffle once for (term, doc) tf pairs; document
    frequencies reuse that aggregate (no second scan of the text); N rides
    as a broadcast one-row count. The dense vector assembles per-doc from
    a (bucket -> weight) map — ``dim`` doubles per row, no UDF anywhere.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    from ..pipeline.dedup import _h32  # md5-derived 32-bit hash column

    tf = (
        docs.select(
            F.col(id_col).alias("__doc"),
            F.explode(words(F.col(text_col))).alias("__term"),
        )
        .groupBy("__doc", "__term")
        .agg(F.count("*").alias("__tf"))
    )
    df_counts = tf.groupBy("__term").agg(F.countDistinct("__doc").alias("__df"))
    n_docs = docs.select(F.countDistinct(F.col(id_col)).alias("__N"))
    weighted = (
        tf.join(df_counts, on="__term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "__doc",
            F.pmod(_h32(F.col("__term")), F.lit(dim)).alias("__bucket"),
            (
                F.col("__tf")
                * (F.log((F.col("__N") + 1.0) / (F.col("__df") + 1.0)) + 1.0)
            ).alias("__w"),
        )
        .groupBy("__doc", "__bucket")
        .agg(F.sum("__w").alias("__w"))
    )
    vecs = weighted.groupBy("__doc").agg(
        F.map_from_entries(
            F.collect_list(F.struct("__bucket", "__w"))
        ).alias("__m")
    ).select(
        "__doc",
        F.expr(
            f"transform(sequence(0, {dim - 1}), "
            f"__j -> coalesce(element_at(__m, __j), CAST(0.0 AS DOUBLE)))"
        ).alias("vector"),
    )
    if normalize:
        nrm = (
            "sqrt(aggregate(vector, CAST(0.0 AS DOUBLE), "
            "(__a, __v) -> __a + __v * __v))"
        )
        vecs = vecs.withColumn(
            "vector",
            F.expr(
                f"CASE WHEN {nrm} > 0 THEN "
                f"transform(vector, __v -> __v / {nrm}) ELSE vector END"
            ),
        )
    base = docs.select(F.col(id_col).alias("__doc"))
    zero = F.expr(
        f"transform(sequence(0, {dim - 1}), __j -> CAST(0.0 AS DOUBLE))"
    )
    return (
        base.join(vecs, on="__doc", how="left")
        .select(
            F.col("__doc").alias(id_col),
            F.coalesce(F.col("vector"), zero).alias("vector"),
        )
    )


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_stop_hits: int = 2,
    max_dup_line_frac: float = 0.3,
    lang: str = "en",
    prefix: str = "gopher",
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, Table A1):
    per-document repetition/format signals plus a combined ``{prefix}_pass``
    verdict — the standard rule filter a web-scale training pipeline runs
    before dedup and model scoring.

    Appended columns (all ``{prefix}_``-prefixed): ``n_words``,
    ``mean_word_len``, ``symbol_ratio`` (#/ellipsis marks per word),
    ``bullet_ratio`` (lines starting with a bullet), ``ellipsis_ratio``
    (lines ending with an ellipsis), ``dup_line_frac`` (1 − distinct
    lines / lines), ``stop_hits`` (stopword occurrences), ``pass``.

    Pure built-ins over one scan (the tokenizer output is staged into a
    bound column so each rule reads it, not re-splits); NULL text fails
    ``pass`` with NULL signals. Thresholds are the published defaults —
    tune per corpus.
    """
    qt = "`" + text_col.replace("`", "``") + "`"
    c = F.col(text_col)
    staged = df.select(
        "*", words(c).alias("__gw"), F.split(c, "\n").alias("__gl")
    )
    w, lines = F.col("__gw"), F.col("__gl")
    n_words = F.size(w)
    sum_wlen = F.aggregate(
        w, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    mean_wlen = F.when(n_words > 0, sum_wlen.cast("double") / n_words)
    hashes = F.expr(f"length({qt}) - length(replace({qt}, '#', ''))")
    dots3 = F.expr(
        f"CAST((length({qt}) - length(replace({qt}, '...', ''))) / 3 AS BIGINT)"
    )
    uni_ell = F.expr(f"length({qt}) - length(replace({qt}, '…', ''))")
    symbol_ratio = F.when(
        n_words > 0, (hashes + dots3 + uni_ell).cast("double") / n_words
    )
    n_lines = F.size(lines)
    bullet_ratio = (
        F.size(F.filter(lines, lambda l: F.ltrim(l).rlike("^[-*•]")))
        .cast("double") / n_lines
    )
    ellipsis_ratio = (
        F.size(F.filter(lines, lambda l: F.rtrim(l).rlike("(\\.\\.\\.|…)$")))
        .cast("double") / n_lines
    )
    dup_line_frac = (
        F.lit(1.0) - F.size(F.array_distinct(lines)).cast("double") / n_lines
    )
    stop_hits = _stopword_hits(w, lang)
    ok = (
        (n_words >= min_words) & (n_words <= max_words)
        & (mean_wlen >= min_mean_word_len) & (mean_wlen <= max_mean_word_len)
        & (symbol_ratio <= max_symbol_word_ratio)
        & (bullet_ratio <= max_bullet_ratio)
        & (ellipsis_ratio <= max_ellipsis_ratio)
        & (stop_hits >= min_stop_hits)
        & (dup_line_frac <= max_dup_line_frac)
    )
    out = staged.select(
        *[F.col(x) for x in df.columns],
        n_words.cast("long").alias(f"{prefix}_n_words"),
        mean_wlen.alias(f"{prefix}_mean_word_len"),
        symbol_ratio.alias(f"{prefix}_symbol_ratio"),
        bullet_ratio.alias(f"{prefix}_bullet_ratio"),
        ellipsis_ratio.alias(f"{prefix}_ellipsis_ratio"),
        dup_line_frac.alias(f"{prefix}_dup_line_frac"),
        stop_hits.cast("long").alias(f"{prefix}_stop_hits"),
        F.coalesce(ok, F.lit(False)).alias(f"{prefix}_pass"),
    )
    return out


def bpe_pair_stats(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int | None = None,
    min_count: int = 1,
) -> DataFrame:
    """Adjacent-character-pair frequencies over the corpus — the counting
    pass of one BPE merge step (Sennrich et al. 2016), i.e. the argmax
    candidate table a tokenizer trainer consumes. Returns ``(left, right,
    n)`` ordered by (n desc, left asc, right asc).

    Scale shape: the corpus first collapses to a DISTINCT-WORD frequency
    table (one shuffle of (word, count) pairs — the distinct vocabulary is
    orders of magnitude smaller than the corpus), then pairs explode from
    that small table weighted by word count. This is exactly how
    reference BPE trainers avoid rescanning the corpus per merge; here it
    also keeps the big shuffle to word-grain, never character-grain.

    ``top_k`` truncates deterministically (total order: n desc, then the
    pair itself); ``min_count`` drops the long tail before the sort.
    """
    w = words(F.col(text_col))
    word_counts = (
        docs.select(F.explode(w).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    # guard len >= 2 BEFORE building the sequence: sequence(1, 0) would
    # count DOWN ([1, 0]) and emit phantom pairs for single-char words
    pairs = word_counts.select(
        F.explode(
            F.expr(
                "CASE WHEN length(w) >= 2 THEN "
                "transform(sequence(1, length(w) - 1), "
                "__i -> struct(substring(w, __i, 1) AS l, "
                "substring(w, __i + 1, 1) AS r)) "
                "ELSE CAST(array() AS array<struct<l: string, r: string>>) END"
            )
        ).alias("p"),
        F.col("wc"),
    )
    out = (
        pairs.groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("wc").cast("long").alias("n"))
        .where(F.col("n") >= min_count)
        .orderBy(F.col("n").desc(), F.col("left").asc(), F.col("right").asc())
    )
    if top_k is not None:
        out = out.limit(top_k)
    return out


def _merge_sql(syms_sql: str, left: str, right: str) -> str:
    """SQL applying one BPE merge ``(left, right)`` to a single-spaced
    symbol string with Sennrich semantics (re.sub of the zero-width
    ``(?<!\\S)l r(?!\\S)`` pattern): every boundary-delimited occurrence
    merges, including back-to-back repeats.

    DuckDB's RE2 has no lookarounds, so the oracle could not mirror a
    regex — instead both sides use the doubled-boundary trick, pure
    ``replace``: double every boundary space, so matching
    ``' l  r '`` consumes only ONE of the two spaces on each side and
    the leftover space still delimits the neighbouring occurrence
    ('a  a  a  a' -> ' aa  aa ', where the naive single-space replace
    yields 'aa a a'). The replacement ``' lr '`` plus the leftover
    spaces keeps the interior-boundaries-doubled invariant, so the
    final collapse of '  ' -> ' ' + trim restores the single-spaced
    form. Symbols never contain spaces, so plain (non-regex) replace
    is exact and needs no escaping.
    """
    return (
        f"trim(replace(replace(' ' || replace({syms_sql}, ' ', '  ') || ' ', "
        f"' ' || {_sql_literal(left)} || '  ' || {_sql_literal(right)} || ' ', "
        f"' ' || {_sql_literal(left)} || {_sql_literal(right)} || ' '), "
        f"'  ', ' '))"
    )


def _apply_merge_syms(
    syms: list[str], left: str, right: str, merged: str
) -> list[str]:
    """One merge over a symbol LIST with Sennrich re.sub semantics:
    left-to-right, non-overlapping, adjacent repeats all consume
    ('a a a a' -> 'aa aa') — the list-form equivalent of
    :func:`_merge_sql`'s doubled-boundary replace."""
    out: list[str] = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == left and syms[i + 1] == right:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _driver_merge_loop(
    rows, n_merges: int, min_pair_count: int, wordpiece: bool = False
):
    """Finish BPE/WordPiece training on the DRIVER from a collected
    ``(word, wc, syms)`` table — the small-table fast path (the same
    shape as ``dedup.connected_components``'s small-graph union-find):
    the distinct-word frequency table is tiny relative to the corpus, so
    once the ONE distributed count/collapse pass has produced it, running
    the merge recurrence locally replaces ``n_merges`` sequential Spark
    jobs (scheduler latency x vocab budget) with zero jobs. This is what
    production subword trainers do after the corpus-sized count.

    Incremental bookkeeping (textbook efficient-BPE): pair counts, symbol
    counts, and a pair -> word-index inverted index are maintained so a
    merge touches only the words that contain the winning pair; stale
    index entries are harmless (their subtract/re-add is a no-op).

    Argmax parity with the distributed loop is exact: BPE key
    ``(n desc, l asc, r asc)``; WordPiece key ``(score desc, n desc,
    l asc, r asc)`` with ``score = (n / lc) / rc`` in IEEE double — the
    same two-division form the distributed path and the DuckDB oracle
    compute, so the three engines can never skew (and the product
    ``lc * rc`` is never formed, so there is no int64 overflow at
    large corpora).

    Returns ``(merges, words)``: merge tuples shaped per family and the
    post-merge ``(word, wc, syms_str)`` rows."""
    from collections import Counter, defaultdict

    words_l: list[tuple[str, int, list[str]]] = [
        (r["word"], int(r["wc"]), r["syms"].split(" ")) for r in rows
    ]
    sym_n: Counter = Counter()
    pair_n: Counter = Counter()
    pair_words: defaultdict = defaultdict(set)
    for idx, (_w, wc, syms) in enumerate(words_l):
        if wordpiece:
            for s in syms:
                sym_n[s] += wc
        for a, b in zip(syms, syms[1:]):
            pair_n[(a, b)] += wc
            pair_words[(a, b)].add(idx)
    merges = []
    for step in range(1, n_merges + 1):
        best = None
        for (l_, r_), n in pair_n.items():
            if n <= 0:
                continue
            if wordpiece:
                key = (-((n / sym_n[l_]) / sym_n[r_]), -n, l_, r_)
            else:
                key = (-n, l_, r_)
            if best is None or key < best[0]:
                best = (key, l_, r_, n)
        if best is None or best[3] < min_pair_count:
            break
        _, l_, r_, n_ = best
        if wordpiece:
            merged = l_ + (r_[2:] if r_.startswith("##") else r_)
            merges.append((step, l_, r_, merged, n_, sym_n[l_], sym_n[r_]))
        else:
            merged = l_ + r_
            merges.append((step, l_, r_, n_))
        for idx in list(pair_words.get((l_, r_), ())):
            w, wc, syms = words_l[idx]
            if wordpiece:
                for s in syms:
                    sym_n[s] -= wc
            for a, b in zip(syms, syms[1:]):
                pair_n[(a, b)] -= wc
            new = _apply_merge_syms(syms, l_, r_, merged)
            words_l[idx] = (w, wc, new)
            if wordpiece:
                for s in new:
                    sym_n[s] += wc
            for a, b in zip(new, new[1:]):
                pair_n[(a, b)] += wc
                pair_words[(a, b)].add(idx)
        # every boundary occurrence of the pair merged -> exact zero
        pair_n.pop((l_, r_), None)
        pair_words.pop((l_, r_), None)
    return merges, [(w, wc, " ".join(syms)) for w, wc, syms in words_l]


# Collect-and-finish threshold for the trainers' driver fast path: a
# distinct-word table at or below this many rows (tens of MB of (word,
# wc, syms) strings) collects once and the merge loop runs locally.
DRIVER_VOCAB_THRESHOLD = 200_000


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    end_marker: str = "</w>",
    min_pair_count: int = 1,
    checkpoint_every: int = 8,
    driver_threshold: int = DRIVER_VOCAB_THRESHOLD,
):
    """Train ``n_merges`` BPE merge steps over the corpus (Sennrich et al.
    2016) and return ``(merges, vocab)``:

    * ``merges`` — one row per executed step: ``(step, left, right, n)``,
      the pair merged and its corpus-weighted count at selection time
      (deterministic argmax: n desc, then the pair itself asc);
    * ``vocab`` — the distinct-word table after all merges:
      ``(word, wc, syms)`` with ``syms`` the space-joined symbol string.

    Scale shape — the reference trainer's trick, distributed: the corpus
    collapses ONCE to a distinct-word frequency table (the only
    corpus-sized shuffle, word-grain); every merge step then runs against
    that small table. Each step is one partial-agg ``groupBy`` over
    adjacent symbol pairs plus a one-row ``collect`` of the argmax — the
    driver never sees more than ``n_merges`` rows. Merge application
    uses the doubled-boundary ``replace`` (see :func:`_merge_sql`) so
    back-to-back occurrences of the pair all merge in one pass —
    matching Sennrich's zero-width ``(?<!\\S)l r(?!\\S)`` ``re.sub``
    exactly (property-tested against a Python reference in
    ``tests/test_text_pipeline.py``). A plain padded ``replace`` would
    consume the shared delimiter space and skip every second adjacent
    occurrence ('a a a a' -> 'aa a a' instead of 'aa aa').
    The vocab table is materialized once per step
    (:class:`~nested_pandas_spark.session.FrameChain`, a snapshot every
    ``checkpoint_every`` steps to keep the lineage bounded) so step ``k``
    never recomputes steps ``1..k-1``.

    Words are symbolized as their characters plus ``end_marker`` (pass
    ``end_marker=None`` to omit). Training stops early when the best
    pair's count falls below ``min_pair_count`` or no pairs remain.

    >>> df = spark.createDataFrame([(0, "low low lower")], "id long, text string")
    >>> merges, vocab = bpe_train(df, 2, end_marker=None)
    >>> [(r["step"], r["left"], r["right"], r["n"]) for r in merges.collect()]
    [(1, 'l', 'o', 3), (2, 'lo', 'w', 3)]
    >>> sorted((r["word"], r["syms"]) for r in vocab.collect())
    [('low', 'low'), ('lower', 'low e r')]
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if min_pair_count < 1:
        raise ValueError("min_pair_count must be >= 1")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    if end_marker is not None and (" " in end_marker or end_marker == ""):
        raise ValueError("end_marker must be a non-empty token without spaces")
    w = words(F.col(text_col))
    marker_sql = (
        f" || ' ' || {_sql_literal(end_marker)}" if end_marker is not None else ""
    )
    vocab_df = snapshot(
        docs.select(F.explode(w).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("wc"))
        .withColumn(
            "syms",
            F.expr(
                "array_join(transform(sequence(1, length(word)), "
                "__i -> substring(word, __i, 1)), ' ')" + marker_sql
            ),
        )
    )
    return _bpe_merge_loop(
        docs.sparkSession, vocab_df, n_merges, min_pair_count,
        checkpoint_every, driver_threshold,
    )


def _bpe_merge_loop(
    spark, vocab_df, n_merges: int, min_pair_count: int,
    checkpoint_every: int, driver_threshold: int = DRIVER_VOCAB_THRESHOLD,
):
    """The shared BPE training loop over a snapshotted ``(word, wc, syms)``
    vocab frame — see :func:`bpe_train` for the scale shape. Symbol
    GRAIN is whatever the caller's symbolization produced (characters
    for :func:`bpe_train`, hex byte pairs for :func:`byte_bpe_train`);
    the loop only assumes space-joined symbols without spaces inside.

    Small-vocab fast path: when the distinct-word table has at most
    ``driver_threshold`` rows (a bounded ``limit(t+1).count()`` probe),
    it collects ONCE and :func:`_driver_merge_loop` finishes every merge
    locally — identical merges (same argmax, same tie-breaks), zero
    per-step Spark jobs. Pass ``driver_threshold=0`` to force the
    distributed loop (vocabularies too large to collect)."""
    import pyarrow as pa

    if driver_threshold > 0 and (
        vocab_df.limit(driver_threshold + 1).count() <= driver_threshold
    ):
        merges, words_out = _driver_merge_loop(
            vocab_df.collect(), n_merges, min_pair_count
        )
        # Arrow-table construction -> a true LocalRelation, so downstream
        # piece/vocab collects stay driver-only (the classic tuple path
        # plans a LogicalRDD whose every collect is a cluster job)
        vocab_df = spark.createDataFrame(pa.table({
            "word": pa.array([w[0] for w in words_out], pa.string()),
            "wc": pa.array([w[1] for w in words_out], pa.int64()),
            "syms": pa.array([w[2] for w in words_out], pa.string()),
        }))
    else:
        merges = []
        with FrameChain(vocab_df, checkpoint_every) as chain:
            for step in range(1, n_merges + 1):
                vocab_df = chain.df
                pairs = (
                    vocab_df.select(
                        F.expr("split(syms, ' ')").alias("sl"), F.col("wc")
                    )
                    .select(
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
                    .orderBy(F.col("n").desc(), F.col("l").asc(), F.col("r").asc())
                    .limit(1)
                    .collect()
                )
                if not pairs or pairs[0]["n"] < min_pair_count:
                    break
                l_, r_, n_ = pairs[0]["l"], pairs[0]["r"], pairs[0]["n"]
                merges.append((step, l_, r_, n_))
                chain.advance(vocab_df.withColumn(
                    "syms", F.expr(_merge_sql("syms", l_, r_))
                ))
            vocab_df = chain.result()
    # LocalRelation for the driver-side merge list (see the fast path)
    merges_df = spark.createDataFrame(pa.table({
        "step": pa.array([m[0] for m in merges], pa.int32()),
        "left": pa.array([m[1] for m in merges], pa.string()),
        "right": pa.array([m[2] for m in merges], pa.string()),
        "n": pa.array([m[3] for m in merges], pa.int64()),
    }))
    return merges_df, vocab_df


def bpe_encode(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    out: str = "tokens",
    end_marker: str = "</w>",
) -> DataFrame:
    """Apply a trained BPE merge list (from :func:`bpe_train` — pass
    ``merges.collect()`` rows, ``(left, right)`` tuples, or the merges
    DataFrame itself) to every document: adds ``out`` =
    ``array<string>`` of BPE tokens (word symbolization -> merges in
    training order -> concatenation across words) and ``{out}_n`` =
    token count. NULL text yields NULL tokens and NULL count.

    Scale shape: the whole encoder is ONE projection — per word, the
    symbol string is built by a char ``transform`` and each merge is a
    literal doubled-boundary ``replace`` (Sennrich ``re.sub``
    semantics, same as training — see :func:`_merge_sql`). No shuffle,
    no UDF, no join: the merge list rides in the plan as O(n_merges)
    nested ``replace`` calls. For vocabularies of thousands of merges,
    use :func:`bpe_encode_vocab` instead (one broadcast join against
    ``bpe_train``'s vocab table) — this literal path is for the
    plan-only regime (hundreds of merges).

    >>> df = spark.createDataFrame([(0, "low lower"), (1, None)],
    ...                            "id long, text string")
    >>> m, _ = bpe_train(df, 2, end_marker=None)
    >>> [r["tokens"] for r in bpe_encode(df, m, end_marker=None)
    ...  .orderBy("id").collect()]
    [['low', 'low', 'e', 'r'], None]
    """
    pairs = _normalize_merges(merges)
    per_word = _bpe_per_word_sql(pairs, end_marker)
    qt = "`" + text_col.replace("`", "``") + "`"
    # same tokenization as bpe_train's words(): lower-cased whitespace split
    w_arr = f"filter(split(lower({qt}), '\\\\s+'), __t -> __t <> '')"
    toks = f"flatten(transform({w_arr}, __w -> {per_word}))"
    out_df = docs.withColumn(
        out,
        F.expr(f"CASE WHEN {qt} IS NULL THEN NULL ELSE {toks} END"),
    )
    return out_df.withColumn(
        f"{out}_n",
        F.when(F.col(text_col).isNull(), F.lit(None).cast("long"))
        .otherwise(F.size(F.col(out)).cast("long")),
    )


def _normalize_merges(merges) -> list[tuple[str, str]]:
    """Accept a merges DataFrame, collected Rows, or (left, right)
    tuples and return a plain list of (left, right) pairs in order."""
    if hasattr(merges, "collect"):
        merges = merges.collect()
    pairs = []
    for m in merges:
        # Row subclasses tuple — prefer named fields when present
        if hasattr(m, "__fields__") and "left" in m.__fields__:
            pairs.append((m["left"], m["right"]))
        else:
            pairs.append((m[0], m[1]))
    return pairs


def _bpe_per_word_sql(pairs: list[tuple[str, str]], end_marker: str | None) -> str:
    """SQL (over a bound string ``__w``) encoding ONE word with the
    literal merge chain: char symbolization (+ ``end_marker``), every
    merge applied in training order with Sennrich semantics via the
    doubled-boundary ``replace`` (see :func:`_merge_sql` — symbols join
    with TWO spaces, each ``' l  r '`` match consumes one space per
    side so adjacent repeats all merge; the ``' lr '`` replacement plus
    leftover spaces preserves the doubled invariant across the chain,
    so one final collapse of '  ' -> ' ' suffices). Returns an
    ``array<string>`` expression."""
    marker_sql = (
        f" || '  ' || {_sql_literal(end_marker)}" if end_marker is not None else ""
    )
    syms = (
        "array_join(transform(sequence(1, length(__w)), "
        "__i -> substring(__w, __i, 1)), '  ')" + marker_sql
    )
    expr = f"' ' || {syms} || ' '"
    for l_, r_ in pairs:
        expr = (
            f"replace({expr}, "
            f"' ' || {_sql_literal(l_)} || '  ' || {_sql_literal(r_)} || ' ', "
            f"' ' || {_sql_literal(l_)} || {_sql_literal(r_)} || ' ')"
        )
    return f"split(trim(replace({expr}, '  ', ' ')), ' ')"


# GPT-2-style pretokenizer (Radford et al. 2019, encoder.py pat), minus
# the `\s+(?!\S)` trailing-whitespace alternative: RE2 (the oracle's
# engine) has no lookarounds, so runs of whitespace group greedily
# instead of donating their last space to the next word — a documented,
# engine-portable variant. Alternation order matters (leftmost-first in
# both Java regex and RE2): contractions, then space+letters, then
# space+digits, then space+other, then whitespace runs.
BYTE_PRETOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def pretokens(text: Column | str) -> Column:
    """``array<string>`` of GPT-2-style pretokens — case-preserving,
    whitespace-carrying (a word keeps its leading space), so the
    concatenation of pretokens reproduces the text exactly. NULL text
    yields NULL."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(col, F.lit(BYTE_PRETOKEN_PATTERN), F.lit(0))


# Byte symbolization over a bound SQL string `__w`: the pretoken's UTF-8
# bytes as space-joined two-hex-char symbols ("he" -> "68 65"). Every
# possible byte is a base symbol, so ANY input tokenizes — byte fallback
# and OOV rate 0 by construction. hex() is uppercase in both Spark and
# DuckDB, so trained merges replay across engines.
_BYTE_SYMS_SQL = (
    "array_join(regexp_extract_all(hex(encode(__w, 'utf-8')), '..', 0), ' ')"
)


def byte_bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_pair_count: int = 1,
    checkpoint_every: int = 8,
    driver_threshold: int = DRIVER_VOCAB_THRESHOLD,
):
    """Train ``n_merges`` BYTE-level BPE merges (the GPT-2/LLaMA-class
    tokenizer family): text splits into case-preserving pretokens
    (:data:`BYTE_PRETOKEN_PATTERN`), each pretoken becomes its UTF-8
    byte sequence (two-hex-char symbols), and merges run over byte
    symbols — so vocabulary statistics are byte-grain and any input,
    code or multilingual, encodes with zero OOV (byte fallback is the
    base alphabet). Returns ``(merges, vocab)`` shaped exactly like
    :func:`bpe_train`; token symbols are hex strings (``"6865"`` = the
    merged bytes of ``"he"``), decodable with :func:`byte_bpe_decode`.

    Scale shape is :func:`bpe_train`'s unchanged: ONE corpus-sized
    word-grain shuffle collapsing to the distinct-pretoken frequency
    table, then one partial-agg pair count + a one-row argmax collect
    per merge (:func:`_bpe_merge_loop`). The reference implementation
    (Sennrich re.sub over a word-frequency dict) is the same algorithm
    single-node; cited for parity, not copied."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if min_pair_count < 1:
        raise ValueError("min_pair_count must be >= 1")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    vocab_df = snapshot(
        docs.select(F.explode(pretokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("wc"))
        .withColumn("syms", F.expr(_BYTE_SYMS_SQL.replace("__w", "word")))
    )
    return _bpe_merge_loop(
        docs.sparkSession, vocab_df, n_merges, min_pair_count,
        checkpoint_every, driver_threshold,
    )


def byte_bpe_encode(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    out: str = "tokens",
) -> DataFrame:
    """Apply byte-level BPE merges (from :func:`byte_bpe_train`) to every
    document: adds ``out`` = ``array<string>`` of hex-symbol tokens and
    ``{out}_n``. By construction every input byte is covered (OOV = 0);
    NULL text yields NULL tokens/count.

    One shuffle-free projection, like :func:`bpe_encode`: pretokens via
    ``regexp_extract_all``, per-pretoken hex symbolization, then the
    literal doubled-boundary ``replace`` chain in training order."""
    pairs = _normalize_merges(merges)
    syms = _BYTE_SYMS_SQL.replace("' ')", "'  ')")  # two-space join
    expr = f"' ' || {syms} || ' '"
    for l_, r_ in pairs:
        expr = (
            f"replace({expr}, "
            f"' ' || {_sql_literal(l_)} || '  ' || {_sql_literal(r_)} || ' ', "
            f"' ' || {_sql_literal(l_)} || {_sql_literal(r_)} || ' ')"
        )
    per_tok = f"split(trim(replace({expr}, '  ', ' ')), ' ')"
    qt = "`" + text_col.replace("`", "``") + "`"
    w_arr = (
        f"regexp_extract_all({qt}, "
        f"{_sql_literal(BYTE_PRETOKEN_PATTERN)}, 0)"
    )
    toks = f"flatten(transform({w_arr}, __w -> {per_tok}))"
    out_df = docs.withColumn(
        out,
        F.expr(f"CASE WHEN {qt} IS NULL THEN NULL ELSE {toks} END"),
    )
    return out_df.withColumn(
        f"{out}_n",
        F.when(F.col(text_col).isNull(), F.lit(None).cast("long"))
        .otherwise(F.size(F.col(out)).cast("long")),
    )


def byte_bpe_encode_vocab(
    docs: DataFrame,
    vocab: DataFrame,
    merges=None,
    text_col: str = "text",
    out: str = "tokens",
) -> DataFrame:
    """Encode against a trained byte-BPE vocab table (from
    :func:`byte_bpe_train`: ``(word, syms)`` keyed by PRETOKEN) — the
    scale path for production merge counts (GPT-2 ships ~50k merges),
    where :func:`byte_bpe_encode`'s literal replace chain would blow the
    plan. Same machinery as :func:`bpe_encode_vocab` (stamp, posexplode
    pretokens, ONE broadcast vocab join, positional reassembly); unseen
    pretokens fall back to raw hex byte symbols (byte fallback — still
    zero OOV), or to the literal merge chain when ``merges`` is passed
    (exact :func:`byte_bpe_encode` parity)."""
    w_arr = (
        f"regexp_extract_all(`{text_col.replace('`', '``')}`, "
        f"{_sql_literal(BYTE_PRETOKEN_PATTERN)}, 0)"
    )
    if merges is not None:
        pairs = _normalize_merges(merges)
        syms2 = _BYTE_SYMS_SQL.replace("' ')", "'  ')")
        expr = f"' ' || {syms2} || ' '"
        for l_, r_ in pairs:
            expr = (
                f"replace({expr}, "
                f"' ' || {_sql_literal(l_)} || '  ' || {_sql_literal(r_)} || ' ', "
                f"' ' || {_sql_literal(l_)} || {_sql_literal(r_)} || ' ')"
            )
        fallback = f"split(trim(replace({expr}, '  ', ' ')), ' ')"
    else:
        fallback = f"split({_BYTE_SYMS_SQL}, ' ')"
    return _encode_with_vocab(docs, vocab, text_col, out, w_arr, fallback)


def byte_bpe_decode(tokens: Column | str) -> Column:
    """Inverse of :func:`byte_bpe_encode`: hex-symbol tokens back to the
    original text (pretokens carry their whitespace, so concatenation is
    exact). Pure JVM expression."""
    col = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.decode(F.unhex(F.array_join(col, "")), "utf-8")


def bpe_encode_vocab(
    docs: DataFrame,
    vocab: DataFrame,
    merges=None,
    text_col: str = "text",
    out: str = "tokens",
    end_marker: str = "</w>",
) -> DataFrame:
    """Encode documents against a TRAINED vocab table (from
    :func:`bpe_train`: ``(word, syms)`` with ``syms`` the space-joined
    post-merge symbols) — the scale path for realistic vocabularies
    (32k merges), where :func:`bpe_encode`'s literal path would blow
    the plan with an O(n_merges) nested-``replace`` chain.

    Output schema matches :func:`bpe_encode` exactly: adds ``out`` =
    ``array<string>`` of BPE tokens in document order and ``{out}_n`` =
    token count; NULL text -> NULL tokens/count, empty text -> empty
    array / 0.

    Out-of-vocabulary words (absent from the training corpus) fall back
    to plain character symbolization (+ ``end_marker``); pass the
    ``merges`` table to instead apply the literal merge chain to OOV
    words only (exact :func:`bpe_encode` parity, at the cost of the
    chain riding in the plan — sized for the merge count you pass).

    Scale shape: stamp each row with ``monotonically_increasing_id``,
    ``posexplode`` words, ONE BroadcastHashJoin against the vocab
    (word-distinct, merge-collapsed — small even for huge corpora),
    re-assemble per row with a single ``collect_list`` shuffle on the
    synthetic id (uniform by construction, no key skew), then one
    join-back to the stamped frame. Document text never rides through
    the word-grain shuffle — only (id, pos, token-array) triples.
    """
    qt = "`" + text_col.replace("`", "``") + "`"
    w_arr = f"filter(split(lower({qt}), '\\\\s+'), __t -> __t <> '')"
    if merges is not None:
        fallback = _bpe_per_word_sql(_normalize_merges(merges), end_marker)
    else:
        marker = (
            f" || ' ' || {_sql_literal(end_marker)}"
            if end_marker is not None
            else ""
        )
        fallback = (
            "split(array_join(transform(sequence(1, length(__w)), "
            f"__i -> substring(__w, __i, 1)), ' '){marker}, ' ')"
        )
    return _encode_with_vocab(docs, vocab, text_col, out, w_arr, fallback)


def _encode_with_vocab(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str,
    out: str,
    w_arr: str,
    fallback: str,
) -> DataFrame:
    """Shared vocab-join encoder body (see :func:`bpe_encode_vocab` for
    the scale shape): stamp, posexplode ``w_arr``, broadcast-join the
    vocab, apply ``fallback`` SQL (over a bound ``__w``) to OOV words,
    reassemble in position order."""
    from pyspark.sql import functions as F

    qt = "`" + text_col.replace("`", "``") + "`"
    # monotonically_increasing_id is deterministic only for one physical
    # execution of one plan; this frame is referenced from TWO branches
    # (the posexplode side and the join-back below), so it is snapshotted
    # once before branching — otherwise an upstream shuffle could renumber
    # rows between evaluations and attach token arrays to the wrong
    # documents.
    stamped = snapshot(
        docs.withColumn("__row_id", F.monotonically_increasing_id()))
    exploded = stamped.where(F.col(text_col).isNotNull()).select(
        F.col("__row_id"),
        F.posexplode(F.expr(w_arr)).alias("__pos", "__w"),
    )
    joined = exploded.join(
        F.broadcast(
            vocab.select(F.col("word").alias("__w"), F.col("syms").alias("__syms"))
        ),
        on="__w",
        how="left",
    )
    per_word = joined.select(
        "__row_id",
        "__pos",
        F.expr(
            f"CASE WHEN __syms IS NOT NULL THEN split(__syms, ' ') "
            f"ELSE {fallback} END"
        ).alias("__wt"),
    )
    assembled = per_word.groupBy("__row_id").agg(
        F.expr(
            "flatten(transform(array_sort(collect_list(struct(__pos, __wt))), "
            "__s -> __s.__wt))"
        ).alias("__tokens")
    )
    out_df = (
        stamped.join(assembled, on="__row_id", how="left")
        .withColumn(
            out,
            F.expr(
                f"CASE WHEN {qt} IS NULL THEN NULL "
                f"ELSE coalesce(__tokens, array()) END"
            ),
        )
        .withColumn(
            f"{out}_n",
            F.when(F.col(text_col).isNull(), F.lit(None).cast("long"))
            .otherwise(F.size(F.col(out)).cast("long")),
        )
        .drop("__row_id", "__tokens")
    )
    return out_df


def token_entropy(text: Column | str, alias: str = "token_entropy") -> Column:
    """Shannon entropy (bits) of the document's word distribution:
    ``H = -sum_w p_w * log2(p_w)`` over lower-cased whitespace tokens —
    near 0 for repeated-token gibberish ("buy buy buy..."), ``log2(n)``
    for fully diverse text; the cheap lexical-diversity signal quality
    stacks threshold alongside :func:`repetition_ratio`.

    NULL text -> NULL; empty/whitespace-only text -> 0.0. Pure HOFs
    (O(distinct x tokens) per doc), zero shuffle, no UDF; the token
    array binds once via a single-element ``transform`` so the text is
    tokenized exactly once.

    Examples
    --------
    >>> df = spark.createDataFrame(
    ...     [(0, "spam spam spam spam"), (1, "all four words differ"),
    ...      (2, None)], "id long, text string")
    >>> [r["token_entropy"] for r in
    ...  df.select("id", token_entropy("text")).orderBy("id").collect()]
    [0.0, 2.0, None]
    """
    c = F.col(text) if isinstance(text, str) else text

    def _ent(arr: Column) -> Column:
        n = F.size(arr)

        def contrib(acc: Column, d: Column) -> Column:
            # subtract inside the fold: 0.0 - 0.0 stays +0.0 (a leading
            # unary minus would surface -0.0 for zero-entropy docs)
            cnt = F.size(F.filter(arr, lambda t: t == d)).cast("double")
            return acc - cnt * F.log2(cnt / n.cast("double"))

        return F.when(n == 0, F.lit(0.0)).otherwise(
            F.aggregate(F.array_distinct(arr), F.lit(0.0), contrib)
            / n.cast("double")
        )

    ent = F.element_at(F.transform(F.array(words(c)), _ent), 1)
    return F.when(c.isNull(), F.lit(None).cast("double")).otherwise(ent).alias(alias)


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
    prefix: str = "gopher",
) -> DataFrame:
    """The n-gram repetition signals of Gopher Table A1 (Rae et al. 2021)
    that :func:`gopher_rules` doesn't cover — word-fraction variants of
    the published character fractions (same thresholding behavior,
    cleaner exact semantics):

    * ``{prefix}_top{n}_frac`` (n in ``top_ns``): ``n * count(most
      frequent word n-gram) / n_words``. Ties break deterministically
      (count desc, then gram asc). Overlapping repeats can push the
      value above 1 — the published filters threshold it, not clamp it.
    * ``{prefix}_dup{n}_frac`` (n in ``dup_ns``): fraction of word
      POSITIONS covered by any n-gram occurring >= 2 times in the doc
      (each position counted once — the coverage semantics of
      exact-substring dedup, within-document).

    Signals are 0.0 for docs too short for the n-gram; NULL text yields
    NULL signals. One scan, embarrassingly parallel across rows, zero
    shuffle. Per-doc cost is O(grams^2) per n — bounded by document
    length.

    Each signal is a SELF-CONTAINED let-bound expression (the token and
    gram arrays are bound once per row via single-element ``transform``
    — Spark SQL's only let construct). This matters beyond style: when a
    downstream ``.where(col)`` makes Catalyst substitute the column's
    expression into a Filter predicate, a *staged-column* formulation
    would re-substitute the gram-array subexpression at every mention —
    and a mention inside a per-position lambda re-EVALUATES the whole
    O(n·len) gram build per position, turning an O(n²) signal into an
    O(n³·len) one (observed: a composed repetition filter over 500 short
    docs burned 20+ CPU-minutes in one interpreted task). With the let
    binding the arrays are computed exactly once per row wherever the
    optimizer inlines the column.
    """
    for n in list(top_ns) + list(dup_ns):
        if int(n) < 1:
            raise ValueError(f"n-gram sizes must be >= 1, got {n}")
    qt = "`" + text_col.replace("`", "``") + "`"

    def let(val: str, var: str, body: str) -> str:
        return f"element_at(transform(array({val}), {var} -> {body}), 1)"

    # words() as SQL text (must stay semantically identical to words())
    w_sql = f"filter(split(lower({qt}), '\\\\s+'), __t -> __t != '')"

    def grams(n: int) -> str:
        # word n-grams over the bound token array __w
        return (
            f"CASE WHEN size(__w) >= {n} THEN "
            f"transform(sequence(0, size(__w) - {n}), "
            f"__i -> array_join(slice(__w, __i + 1, {n}), ' ')) "
            f"ELSE CAST(array() AS array<string>) END"
        )

    def wrap(n: int, body: str) -> str:
        # NULL text -> NULL; empty doc -> 0.0; else bind __w then __g
        return (
            f"CASE WHEN {qt} IS NULL THEN CAST(NULL AS DOUBLE) ELSE "
            + let(
                w_sql, "__w",
                f"CASE WHEN size(__w) = 0 THEN 0.0D ELSE "
                + let(grams(n), "__g", body) + " END",
            )
            + " END"
        )

    outs: dict[str, str] = {}
    for n in top_ns:
        step = (
            f"element_at(transform(array(size(filter(__g, __x -> __x = __d))), "
            f"__c -> CASE WHEN __c > __a.c OR (__c = __a.c AND "
            f"(__a.g IS NULL OR __d < __a.g)) THEN "
            f"named_struct('c', __c, 'g', __d) ELSE __a END), 1)"
        )
        top = (
            f"aggregate(array_distinct(__g), "
            f"named_struct('c', 0, 'g', CAST(NULL AS STRING)), "
            f"(__a, __d) -> {step})"
        )
        outs[f"{prefix}_top{int(n)}_frac"] = wrap(
            int(n),
            f"CAST({int(n)} * ({top}).c AS DOUBLE) / size(__w)",
        )
    for n in dup_ns:
        dup_starts = (
            "filter(sequence(0, size(__g) - 1), __i -> "
            "size(filter(__g, __x -> __x = element_at(__g, __i + 1))) >= 2)"
        )
        covered = (
            f"array_distinct(flatten(transform({dup_starts}, "
            f"__s -> sequence(__s, __s + {int(n)} - 1))))"
        )
        outs[f"{prefix}_dup{int(n)}_frac"] = wrap(
            int(n),
            f"CASE WHEN size(__g) = 0 THEN 0.0D "
            f"ELSE CAST(size({covered}) AS DOUBLE) / size(__w) END",
        )
    return df.select(
        "*", *[F.expr(sql).alias(name) for name, sql in outs.items()]
    )


def bigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_docs: DataFrame | None = None,
    alpha: float = 1.0,
) -> DataFrame:
    """Per-document mean BIGRAM log-probability — the sequence-aware step
    up from :func:`unigram_logprob` toward the CCNet 5-gram-LM
    perplexity filter: word-salad documents whose unigrams look fine
    (common words, wrong order) score poorly here.

    Model: over ``model_docs`` (defaults to ``docs``),
    ``P(w2|w1) = (c(w1 w2) + alpha) / (ctx(w1) + alpha * (V + 1))``
    where ``ctx(w1)`` counts w1 as a bigram CONTEXT (= sum of its
    continuation counts) and ``V`` is the model unigram vocabulary;
    unseen bigrams/contexts take count 0 (pure add-alpha backoff).

    Output: (``id_col``, ``n_bigrams``, ``mean_logp``) — every input doc
    appears; docs with < 2 tokens get ``n_bigrams = 0`` and NULL mean.

    Scale shape (same as the unigram scorer): the model corpus is
    tokenized ONCE into a snapshotted bigram-count table (vocabulary-
    bounded); the context table re-aggregates that cache. The doc side
    joins on (w1, w2) then w1 (AQE splits hot words), V rides along
    broadcast, and the per-doc mean is a final partial agg. No Python,
    no all-pairs.
    """
    model_docs = docs if model_docs is None else model_docs

    def bigrams(df: DataFrame, with_id: bool):
        w = words(F.col(text_col))
        cols = [F.col(id_col).alias("__doc")] if with_id else []
        return (
            df.select(*cols, w.alias("__w"))
            .where(F.size("__w") >= 2)
            .select(
                *(["__doc"] if with_id else []),
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(__w) - 1), __i -> "
                        "struct(element_at(__w, __i) AS w1, "
                        "element_at(__w, __i + 1) AS w2))"
                    )
                ).alias("__b"),
            )
            .select(*(["__doc"] if with_id else []),
                    F.col("__b.w1").alias("__w1"),
                    F.col("__b.w2").alias("__w2"))
        )

    model_bi = bigrams(model_docs, with_id=False)
    # bi_counts feeds the context table AND the scoring join; exchange
    # reuse does not deduplicate the branches (HOF lambdas defeat plan
    # canonicalization), so each consumer would re-tokenize and re-shuffle
    # the model corpus at bigram grain. Bigram-type grain — vocabulary-
    # bounded, far smaller than the corpus.
    bi_counts = snapshot(model_bi.groupBy("__w1", "__w2").agg(
        F.count("*").alias("__c12")))
    # ctx(w1) = number of bigrams with context w1 = sum of its per-bigram
    # counts: a re-aggregation of the cached bigram table (exact longs,
    # identical values), not another pass over the model corpus
    ctx_counts = bi_counts.groupBy("__w1").agg(
        F.sum("__c12").alias("__c1"))
    v = (
        model_docs.select(F.explode(words(F.col(text_col))).alias("__t"))
        .agg(F.countDistinct("__t").alias("__V"))
    )
    a = float(alpha)
    scored = (
        bigrams(docs, with_id=True)
        .join(bi_counts, ["__w1", "__w2"], "left")
        .join(ctx_counts, ["__w1"], "left")
        .crossJoin(F.broadcast(v))
        .select(
            "__doc",
            F.log(
                (F.coalesce(F.col("__c12"), F.lit(0)) + F.lit(a))
                / (F.coalesce(F.col("__c1"), F.lit(0))
                   + F.lit(a) * (F.col("__V") + 1))
            ).alias("__lp"),
        )
    )
    per_doc = scored.groupBy("__doc").agg(
        F.count("*").alias("n_bigrams"), F.avg("__lp").alias("mean_logp")
    )
    base = docs.select(F.col(id_col).alias("__doc"))
    return (
        base.join(per_doc, "__doc", "left")
        .select(
            F.col("__doc").alias(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long")
            .alias("n_bigrams"),
            F.col("mean_logp"),
        )
    )


def kn_bigram_logprob(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    model_docs: DataFrame | None = None,
    discount: float | None = None,
) -> DataFrame:
    """Per-document mean bigram log-probability under INTERPOLATED
    KNESER-NEY smoothing (Kneser & Ney 1995; Chen & Goodman 1999) — the
    smoothing family behind the KenLM models CCNet-style pipelines score
    with, where :func:`bigram_logprob`'s add-alpha is the classroom
    baseline.  KN's insight: the backoff weight of a word should be how
    many distinct CONTEXTS it completes ("francisco" is frequent but only
    ever follows "san"), not its raw frequency.

        P(w2|w1) = (max(c(w1 w2) - D, 0) + D * N1+(w1,.) * Pcont(w2))
                   / ctx(w1)                          if ctx(w1) > 0
                 = Pcont(w2)                          otherwise (unseen ctx)

        Pcont(w2) = (N1+(., w2) + 1) / (T + V + 1)

    with ``ctx(w1)`` the total bigram count of context w1, ``N1+(w1,.)``
    / ``N1+(., w2)`` the distinct continuation / context type counts,
    ``T`` the number of distinct bigram types and ``V`` the unigram
    vocabulary.  The continuation distribution carries add-one mass over
    ``V + 1`` outcomes so unseen words stay scoreable (a documented
    deviation from the textbook formula, which leaves OOV at zero).
    ``discount=None`` estimates the absolute discount from the model's
    counts-of-counts, ``D = n1 / (n1 + 2 * n2)`` (Ney's formula; 0.5 when
    degenerate); pass a float in [0, 1) to pin it.

    Output: (``id_col``, ``n_bigrams``, ``mean_logp``) — every input doc
    appears; docs with < 2 tokens get ``n_bigrams = 0`` and NULL mean.

    Scale shape: identical to :func:`bigram_logprob` — the model corpus
    is tokenized ONCE into a snapshotted bigram-count table; the context /
    continuation / counts-of-counts tables are re-aggregations of that
    snapshot (vocabulary-bounded), and the totals ride as ONE broadcast
    row; the doc side joins on (w1, w2) then w1 then w2 (AQE splits hot
    words) and finishes with a per-doc partial agg.  No Python, no
    all-pairs, no driver loop.
    """
    if discount is not None and not (0.0 <= discount < 1.0):
        raise ValueError("discount must be within [0, 1)")
    model_docs = docs if model_docs is None else model_docs

    def bigrams(df: DataFrame, with_id: bool):
        w = words(F.col(text_col))
        cols = [F.col(id_col).alias("__doc")] if with_id else []
        return (
            df.select(*cols, w.alias("__w"))
            .where(F.size("__w") >= 2)
            .select(
                *(["__doc"] if with_id else []),
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(__w) - 1), __i -> "
                        "struct(element_at(__w, __i) AS w1, "
                        "element_at(__w, __i + 1) AS w2))"
                    )
                ).alias("__b"),
            )
            .select(*(["__doc"] if with_id else []),
                    F.col("__b.w1").alias("__w1"),
                    F.col("__b.w2").alias("__w2"))
        )

    model_bi = bigrams(model_docs, with_id=False)
    # bi_counts feeds FOUR consumers (ctx, cont, the discount totals, and
    # the scoring join); exchange reuse does not deduplicate them (HOF
    # lambdas defeat plan canonicalization), so without a snapshot every
    # consumer re-tokenizes and re-shuffles the model corpus at bigram
    # grain. Bigram-type grain — vocabulary-bounded, far smaller than the
    # corpus.
    bi_counts = snapshot(model_bi.groupBy("__w1", "__w2").agg(
        F.count("*").alias("__c12")))
    ctx = bi_counts.groupBy("__w1").agg(
        F.sum("__c12").alias("__c1"),
        F.count("*").alias("__nfwd"),   # N1+(w1, .)
    )
    cont = bi_counts.groupBy("__w2").agg(
        F.count("*").alias("__nbwd"))   # N1+(., w2)
    v = (
        model_docs.select(F.explode(words(F.col(text_col))).alias("__t"))
        .agg(F.countDistinct("__t").alias("__V"))
    )
    totals = (
        bi_counts.agg(
            F.count("*").alias("__T"),
            F.sum((F.col("__c12") == 1).cast("long")).alias("__n1"),
            F.sum((F.col("__c12") == 2).cast("long")).alias("__n2"),
        )
        .crossJoin(F.broadcast(v))
        .select(
            "__T", "__V",
            (
                F.lit(float(discount))
                if discount is not None
                else F.when(
                    F.col("__n1") + 2 * F.col("__n2") > 0,
                    F.col("__n1")
                    / (F.col("__n1") + 2.0 * F.col("__n2")),
                ).otherwise(F.lit(0.5))
            ).alias("__D"),
        )
    )
    pcont = (
        (F.coalesce(F.col("__nbwd"), F.lit(0)) + 1.0)
        / (F.col("__T") + F.col("__V") + 1.0)
    )
    p = F.when(
        F.coalesce(F.col("__c1"), F.lit(0)) > 0,
        (
            F.greatest(
                F.coalesce(F.col("__c12"), F.lit(0)) - F.col("__D"),
                F.lit(0.0),
            )
            + F.col("__D") * F.col("__nfwd") * pcont
        )
        / F.col("__c1"),
    ).otherwise(pcont)
    scored = (
        bigrams(docs, with_id=True)
        .join(bi_counts, ["__w1", "__w2"], "left")
        .join(ctx, ["__w1"], "left")
        .join(cont, ["__w2"], "left")
        .crossJoin(F.broadcast(totals))
        .select("__doc", F.log(p).alias("__lp"))
    )
    per_doc = scored.groupBy("__doc").agg(
        F.count("*").alias("n_bigrams"), F.avg("__lp").alias("mean_logp")
    )
    base = docs.select(F.col(id_col).alias("__doc"))
    return (
        base.join(per_doc, "__doc", "left")
        .select(
            F.col("__doc").alias(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long")
            .alias("n_bigrams"),
            F.col("mean_logp"),
        )
    )


def corpus_divergence(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Distribution drift between two corpora: KL and Jensen-Shannon
    divergence over add-``alpha``-smoothed unigram distributions.

    The drift monitor of a continuously-ingested training corpus (and
    the distance DSIR-style domain matching optimizes): both corpora
    collapse to word-count tables (one shuffle each, partial-aggregated
    map-side), full-outer-join on the union vocabulary, totals ride in
    on a broadcast one-row aggregate, and the divergences reduce in a
    single final aggregation. Nothing driver-side, nothing quadratic;
    the widest state is one row per distinct word.

    Smoothing: ``p_i = (count_i + alpha) / (N + alpha * V)`` with ``V``
    the union vocabulary — both distributions sum to exactly 1 over the
    union, so KL is finite even for one-sided words.

    Returns one row: ``kl_ab, kl_ba, js, vocab, tokens_a, tokens_b``.
    """
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(words(F.col(text_col))).alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias(name))
        )

    j = (
        counts(a, "ca")
        .join(counts(b, "cb"), on="w", how="full_outer")
        .fillna(0, ["ca", "cb"])
    )
    tot = j.agg(
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
        F.count("*").alias("v"),
    )
    al = F.lit(float(alpha))
    x = j.crossJoin(F.broadcast(tot))
    p = (F.col("ca") + al) / (F.col("na") + al * F.col("v"))
    q = (F.col("cb") + al) / (F.col("nb") + al * F.col("v"))
    m = (p + q) / 2
    return (
        x.select(
            (p * F.log(p / q)).alias("__ab"),
            (q * F.log(q / p)).alias("__ba"),
            (p / 2 * F.log(p / m) + q / 2 * F.log(q / m)).alias("__js"),
            "na", "nb", "v",
        )
        .groupBy()
        .agg(
            F.sum("__ab").alias("kl_ab"),
            F.sum("__ba").alias("kl_ba"),
            F.sum("__js").alias("js"),
            F.first("v").alias("vocab"),
            F.first("na").alias("tokens_a"),
            F.first("nb").alias("tokens_b"),
        )
    )


def divergent_tokens(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
    k: int = 20,
    alpha: float = 0.5,
) -> DataFrame:
    """The ``k`` tokens most responsible for corpus drift, by absolute
    smoothed log-odds ratio ``|log(p_a/p_b)|`` (Monroe et al. 2008's
    fightin'-words statistic, unregularized form), tie-broken by token
    for determinism. Same shuffle shape as :func:`corpus_divergence`;
    the top-k is a global sort over the word-grain table — at corpus
    scale that table is vocabulary-sized, not document-sized.

    Returns ``(token, count_a, count_b, log_odds)`` sorted by
    ``|log_odds|`` descending.
    """

    def counts(df: DataFrame, name: str) -> DataFrame:
        return (
            df.select(F.explode(words(F.col(text_col))).alias("token"))
            .groupBy("token")
            .agg(F.count("*").alias(name))
        )

    j = (
        counts(a, "count_a")
        .join(counts(b, "count_b"), on="token", how="full_outer")
        .fillna(0, ["count_a", "count_b"])
    )
    tot = j.agg(
        F.sum("count_a").alias("na"),
        F.sum("count_b").alias("nb"),
        F.count("*").alias("v"),
    )
    al = F.lit(float(alpha))
    x = j.crossJoin(F.broadcast(tot))
    p = (F.col("count_a") + al) / (F.col("na") + al * F.col("v"))
    q = (F.col("count_b") + al) / (F.col("nb") + al * F.col("v"))
    scored = x.select(
        "token", "count_a", "count_b", F.log(p / q).alias("log_odds")
    )
    return scored.orderBy(
        F.abs(F.col("log_odds")).desc(), F.col("token").asc()
    ).limit(int(k))


def oov_rate(
    docs: DataFrame,
    vocab_df: DataFrame,
    text_col: str = "text",
    word_col: str = "word",
) -> DataFrame:
    """Per-document out-of-vocabulary statistics against a vocabulary
    table — the tokenizer-coverage eval run before/after vocab training
    (and the canary for domain shift: OOV spikes when ingest drifts).

    Zero shuffle: the vocabulary collapses to ONE row (``collect_set``),
    rides to executors via a broadcast cross join as a lookup map, and
    each document scores itself with a HOF filter over its own tokens.
    The right shape while the vocab fits an executor (10^6 words ≈ tens
    of MB — the practical tokenizer regime); a larger-than-memory vocab
    would flip to the exploded word-grain broadcast join of
    :func:`bpe_encode_vocab` instead.

    Adds ``token_n``, ``oov_n``, ``oov_rate`` (NULL text -> NULLs;
    empty token list -> rate 0.0).
    """
    vocab_map = vocab_df.agg(
        F.map_from_arrays(
            F.collect_set(F.col(word_col).cast("string")),
            F.transform(
                F.collect_set(F.col(word_col).cast("string")),
                lambda _: F.lit(True),
            ),
        ).alias("__vmap")
    )
    w = words(F.col(text_col))
    out = docs.crossJoin(F.broadcast(vocab_map))
    token_n = F.size(w)
    oov_n = F.size(
        F.filter(w, lambda t: F.element_at(F.col("__vmap"), t).isNull())
    )
    return (
        out.withColumn(
            "token_n",
            F.when(F.col(text_col).isNull(), F.lit(None)).otherwise(
                token_n.cast("long")
            ),
        )
        .withColumn(
            "oov_n",
            F.when(F.col(text_col).isNull(), F.lit(None)).otherwise(
                oov_n.cast("long")
            ),
        )
        .withColumn(
            "oov_rate",
            F.when(F.col(text_col).isNull(), F.lit(None).cast("double"))
            .when(token_n == 0, F.lit(0.0))
            .otherwise(oov_n / token_n),
        )
        .drop("__vmap")
    )


def split_sentences(text: Column | str) -> Column:
    """Sentence array via an RE2-safe extraction (no lookbehind, so the
    same pattern runs in Spark's Java regex AND DuckDB's RE2): each
    sentence is a maximal run of non-terminator chars plus its trailing
    ``.!?`` run, trimmed, empties dropped. NULL text -> empty array."""
    c = F.col(text) if isinstance(text, str) else text
    raw = F.regexp_extract_all(
        F.coalesce(c, F.lit("")), F.lit("[^.!?]+[.!?]*"), F.lit(0)
    )
    return F.filter(
        F.transform(raw, lambda s: F.trim(s)), lambda s: s != ""
    )


def sentence_stats(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document sentence profile: count, total words across
    sentences, longest sentence (chars). Pure HOF expressions over the
    sentence array — zero shuffle, fused into the scan at any scale."""
    ss = split_sentences(F.col(text_col))
    n_words = F.aggregate(
        F.transform(ss, lambda s: F.size(words(s))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return docs.select(
        F.col(id_col),
        F.size(ss).cast("int").alias("n_sentences"),
        n_words.cast("int").alias("sent_words"),
        F.coalesce(
            F.array_max(F.transform(ss, lambda s: F.length(s))), F.lit(0)
        ).cast("int").alias("max_sent_chars"),
    )


def normalize_text(text: Column | str) -> Column:
    """Unicode text cleanup as a pure (RE2-safe) regexp/translate chain —
    the ftfy-lite pass run before fingerprinting or tokenizing web text:

    1. drop C0/C1 control chars (except tab/newline, which become spaces
       in step 3 anyway) and the BOM/zero-width family,
    2. map the common Unicode punctuation variants to ASCII (curly
       quotes, en/em dashes, ellipsis, NBSP and friends to space),
    3. collapse whitespace runs to one space and trim.

    Deterministic, no Python, replayable in any engine with the same two
    regex classes + translate table. NULL -> NULL."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(
        c, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f\u0080-\u009f\ufeff\u200b\u200c\u200d]", ""
    )
    c = F.translate(
        c,
        "\u2018\u2019\u201c\u201d\u2013\u2014\u00a0\u2007\u202f\u3000",
        "''\"\"--    ",
    )
    c = F.regexp_replace(c, "\u2026", "...")
    return F.trim(F.regexp_replace(c, "\\s+", " "))


def zipf_stats(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 100,
) -> DataFrame:
    """Zipf rank-frequency profile of the corpus: the ``top_k`` tokens
    with (rank, count, log10 rank/count) plus the least-squares slope of
    log10(count) on log10(rank) — healthy natural-language corpora sit
    near slope -1 (Zipf 1949); template/boilerplate-heavy or synthetic
    corpora flatten or steepen it, so the slope is a one-number corpus
    drift alarm.

    One token-grain count shuffle + a distributed top-k
    (TakeOrderedAndProject); the regression runs as one aggregate over
    top_k rows. Ranking ties break lexicographically (deterministic).
    Returns one row per top-k token: (rank, word, n, slope) with the
    same slope on every row."""
    if top_k < 2:
        raise ValueError("top_k must be >= 2 for a slope")
    tk = (
        docs.select(F.explode(words(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("w"))
        .limit(top_k)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("w"))
    ranked = tk.select(
        F.row_number().over(w).alias("rank"), F.col("w").alias("word"), "n"
    ).withColumn("lx", F.log10("rank")).withColumn("ly", F.log10("n"))
    agg = ranked.agg(
        F.count("*").alias("k"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
    ).select(
        (
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
        ).alias("slope")
    )
    return ranked.select("rank", "word", "n").crossJoin(F.broadcast(agg))
