"""Deduplication operators for training-data pipelines.

* exact            — hash-groupBy on a normalized fingerprint (one shuffle)
* minhash + LSH    — shingle -> k minhashes -> b bands -> bucket self-join;
                     only documents sharing a band bucket are compared, so the
                     candidate join is linear-ish in data size instead of the
                     quadratic all-pairs — the standard web-scale recipe.
* simhash          — 32-bit sign-aggregated token hashes; near-dups are pairs
                     within a small Hamming radius (bit_count(xor)).
* n-gram Jaccard   — exact Jaccard on shingle sets for candidate verification.
* embedding cosine — angular LSH: multi-table SRP buckets -> candidate pairs
                     -> exact cosine verify (``embedding_neardup``).

Hashing is md5-derived everywhere: bit-identical in Spark and DuckDB, so every
operator here is oracle-checkable. At 100 TB you'd swap md5 for xxhash64 (also
builtin, ~5x faster) — the structure is unchanged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import cached, snapshot
from ..tuning import _ensure_parallelism
from .text import fingerprint, word_ngrams, words

__all__ = [
    "BloomBitmap",
    "build_fingerprint_bloom",
    "bloom_dedup_against",
    "dedup_against",
    "dedup_keep_best",
    "dedup_passages",
    "fuzzy_pairs",
    "exact_dedup",
    "minhash_signature",
    "lsh_candidate_pairs",
    "lsh_candidate_pairs_between",
    "lsh_candidate_probability",
    "lsh_tuning",
    "ngram_jaccard_pairs",
    "simhash",
    "simhash_near_pairs",
    "hamming_near_pairs",
    "embedding_neardup",
    "semantic_dedup",
    "connected_components",
    "resolve_duplicates",
    "winnow_fingerprints",
    "winnow_near_pairs",
]


def _h32(c: Column) -> Column:
    """Deterministic 32-bit-ish hash from md5 (engine-portable: DuckDB
    computes the identical value with ('0x'||substr(md5(x),1,8))::BIGINT)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def exact_dedup(
    df: DataFrame, id_col: str, text_col: str = "text", keep: str = "min"
) -> DataFrame:
    """Keep one representative row id per exact (normalized) duplicate group.

    Single hash-shuffle on the 32-hex-char fingerprint; with AQE the skewed
    'empty doc' bucket splits automatically.

    Examples
    --------
    >>> docs = spark.createDataFrame(
    ...     [(1, "Hello  World"), (2, "hello world"), (3, "other")],
    ...     "doc_id long, text string")
    >>> sorted((r["doc_id"], r["n_dups"])
    ...        for r in exact_dedup(docs, "doc_id").collect())
    [(1, 2), (3, 1)]
    """
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(agg.alias(id_col), F.count("*").alias("n_dups"))
    )


def dedup_keep_best(
    df: DataFrame,
    id_col: str,
    score_col: str,
    text_col: str = "text",
) -> DataFrame:
    """Quality-aware exact dedup: within each exact-duplicate group keep
    the row with the HIGHEST ``score_col`` (ties break to the smallest
    id — fully deterministic), carrying the group size as ``n_dups``.

    The production retention policy (RefinedWeb/FineWeb keep the
    best-scored copy, not an arbitrary one): one max_by aggregation on
    the fingerprint — the same single hash-grain shuffle as
    :func:`exact_dedup`; document text never shuffles, only
    (fingerprint, id, score).

    >>> docs = spark.createDataFrame(
    ...     [(1, "a  b", 0.2), (2, "A B", 0.9), (3, "c", 0.5)],
    ...     "doc_id long, text string, q double")
    >>> sorted((r["doc_id"], r["n_dups"])
    ...        for r in dedup_keep_best(docs, "doc_id", "q").collect())
    [(2, 2), (3, 1)]
    """
    keyed = df.select(
        F.col(id_col),
        F.coalesce(F.col(score_col).cast("double"),
                   F.lit(float("-inf"))).alias("__score"),
        fingerprint(text_col).alias("fp"),
    )
    # min_by with a composite (-score, id) key: best score, then lowest
    # id. Negating the SCORE (always numeric — coalesced double above)
    # instead of the id keeps the tie-break working for string ids
    # (e.g. WARC record ids), which sibling exact_dedup supports.
    best = F.expr(
        f"min_by({id_col}, named_struct('s', -__score, 'i', {id_col}))"
    )
    return keyed.groupBy("fp").agg(
        best.alias(id_col),
        F.max("__score").alias(score_col),
        F.count("*").alias("n_dups"),
    )


def dedup_against(
    new: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    within_batch: bool = True,
    broadcast_ref: bool = False,
) -> DataFrame:
    """Incremental exact dedup: drop rows of ``new`` whose normalized
    fingerprint already exists in the ``ref`` corpus — the every-ingest op
    of a continuously-growing training corpus (dedup each incoming batch
    against everything already accepted).

    Scale shape: ``ref`` collapses to DISTINCT fingerprints (32-hex-char
    rows, never text) before the LEFT ANTI join, so the join shuffles
    hashes, not documents; set ``broadcast_ref=True`` when the accepted-
    fingerprint set fits in executor memory (typical when ingesting small
    increments against a precomputed fingerprint table). ``within_batch``
    additionally keeps only the min-``id_col`` row of each fingerprint
    group inside ``new`` itself — as a map-side-combined ``min`` aggregate
    plus a semi-join on the unique ``(fp, id)`` pair, NOT a window: a
    window partitioned by fingerprint funnels each mega-duplicate group
    (the boilerplate doc with millions of copies) through one task, while
    the aggregate partial-combines it and the semi-join key is skew-free
    by construction.

    Returns the surviving rows of ``new`` with their original columns.
    """
    from .text import fingerprint

    ref_fp = ref.select(fingerprint(text_col).alias("__fp")).distinct()
    if broadcast_ref:
        ref_fp = F.broadcast(ref_fp)
    out = new.withColumn("__fp", fingerprint(text_col))
    out = out.join(ref_fp, "__fp", "left_anti")
    if within_batch:
        # null-safe fp equality: NULL-text rows form one group too (matching
        # the window/QUALIFY semantics), instead of vanishing from an
        # equi-join that NULL keys never satisfy
        keep = out.groupBy("__fp").agg(F.min(id_col).alias("__keep_id"))
        o, k = out.alias("o"), keep.alias("k")
        cond = F.col("o.__fp").eqNullSafe(F.col("k.__fp")) & (
            F.col(f"o.{id_col}") == F.col("k.__keep_id")
        )
        out = o.join(k, cond, "left_semi")
    return out.drop("__fp")


# MinHash universal-hash family: h_i(x) = (a_i * x + b_i) mod P over the
# 32-bit base hash. P is the smallest prime > 2^32; a_i is capped to 31 bits
# so a*h < 2^63 never overflows (Spark ANSI mode would error on overflow).
_MINHASH_P = 4294967311


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) constants, identical in the DuckDB oracle."""
    out = []
    for i in range(num_hashes):
        a = ((i * 2654435761 + 1013904223) & 0x7FFFFFFF) | 1
        b = (i * 40503 * 65537 + 12345) & 0xFFFFFFFF
        out.append((a, b))
    return out


def shingle_hashes(text: Column | str, shingle_n: int = 3) -> Column:
    """One 32-bit md5-derived hash per word-shingle (``array<bigint>``).

    Materialize this ONCE as a column, then derive the k minhashes
    arithmetically — one md5 per shingle total, not per (shingle, hashfunc).
    """
    return F.transform(word_ngrams(text, shingle_n), lambda s: _h32(s))


def staged_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int,
    keep_empty: bool = False,
) -> DataFrame:
    """(id, shingle-hash array) with each pipeline step bound to a column.

    Binding matters: an expression referenced inside a higher-order lambda is
    re-evaluated PER ELEMENT (the tokenizer would re-split the text once per
    shingle position — O(words^2)); a projected column is evaluated once per
    row. ~10x faster than the single-expression form on real documents.
    """
    from .text import _ngrams_from_words, words

    df = _ensure_parallelism(df)
    out = (
        df.select(F.col(id_col).alias("__id"), words(F.col(text_col)).alias("__w"))
        .select("__id", _ngrams_from_words(F.col("__w"), shingle_n).alias("__sh"))
        .select(
            "__id", F.transform(F.col("__sh"), lambda s: _h32(s)).alias("__h")
        )
    )
    return out if keep_empty else out.where(F.size("__h") > 0)


def minhash_signature(
    text: Column | str, num_hashes: int = 16, shingle_n: int = 3
) -> Column:
    """k-minhash signature over word-shingles as ``array<bigint>`` (length k).

    signature[i] = min over shingles of (a_i * h32(shingle) + b_i) mod P.
    Documents with fewer than ``shingle_n`` words get NULL (can't shingle).
    Pure HOF expression — per row, no shuffle, no UDF. For hot paths prefer
    projecting :func:`shingle_hashes` into a column first so the md5 pass
    isn't re-evaluated per reference.
    """
    h = shingle_hashes(text, shingle_n)
    return minhash_from_hashes(h, num_hashes)


def minhash_from_hashes(h: Column, num_hashes: int) -> Column:
    sig = F.array(
        *[
            F.array_min(
                F.transform(h, lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(_MINHASH_P))
            )
            for a, b in minhash_params(num_hashes)
        ]
    )
    return F.when(F.size(h) > 0, sig)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate duplicate pairs (id_a < id_b).

    signature -> ``bands`` bands of ``num_hashes/bands`` rows; band key =
    md5 of the band's slice; equi-self-join on (band_idx, band_key). The
    join is the only shuffle and it's keyed on the bucket, so cost scales
    with bucket sizes, not n^2.
    """
    rows_per_band = num_hashes // bands
    # exploded formulation: explode shingles, hash each once, take the k
    # minima as grouped aggregates. Robust against Catalyst's projection
    # collapse, which re-inlines array expressions into downstream lambdas
    # and silently re-tokenizes per element; here the tokenizer output feeds
    # a generator (evaluated once per row) and everything after is per-
    # shingle scalar work + one narrow shuffle of (id, hash).
    from .text import _ngrams_from_words, words

    exploded = _ensure_parallelism(df).select(
        F.col(id_col).alias("__id"),
        F.explode(_ngrams_from_words(words(F.col(text_col)), shingle_n)).alias("__g"),
    )
    hashed = exploded.select("__id", _h32(F.col("__g")).alias("__h"))
    params = minhash_params(num_hashes)
    sig = hashed.groupBy("__id").agg(
        *[
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(_MINHASH_P)).alias(f"__m{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    band_keys = [
        F.md5(
            F.concat_ws(
                ",",
                *[F.col(f"__m{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)],
            )
        )
        for b in range(bands)
    ]
    banded = sig.select(
        "__id", F.posexplode(F.array(*band_keys)).alias("band_idx", "band_key")
    )
    # group-and-enumerate instead of a self-join: a self-join would scan and
    # re-hash the corpus twice (no exchange reuse across the sides); one
    # aggregation per bucket + in-array pair enumeration computes signatures
    # exactly once. Bucket sizes are small by construction (that's the point
    # of LSH), so the quadratic enumeration stays per-bucket-tiny.
    buckets = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list("__id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    pairs_sql = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    return (
        buckets.select(F.explode(F.expr(pairs_sql)).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def lsh_candidate_pairs_between(
    new: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Cross-corpus MinHash-LSH: candidate near-duplicate pairs between an
    incoming batch and an accepted corpus — the near-dup complement of
    :func:`dedup_against` (which is exact-only). Returns ``(new_id,
    ref_id)`` with one row per candidate pair.

    Same group-and-enumerate shape as :func:`lsh_candidate_pairs`: both
    corpora union into ONE scan-and-hash pass (each document's signature is
    computed exactly once), band keys bucket the union, and pairs enumerate
    only ACROSS the side tag within a bucket — never new×new or ref×ref, so
    the output is exactly the cross-corpus candidates.
    """
    rows_per_band = num_hashes // bands
    from .text import _ngrams_from_words, words

    tagged = _ensure_parallelism(
        new.select(
            F.col(id_col).alias("__id"), F.lit(0).alias("__side"),
            F.col(text_col).alias("__text"),
        ).unionByName(
            ref.select(
                F.col(id_col).alias("__id"), F.lit(1).alias("__side"),
                F.col(text_col).alias("__text"),
            )
        )
    )
    exploded = tagged.select(
        "__id", "__side",
        F.explode(_ngrams_from_words(words(F.col("__text")), shingle_n)).alias("__g"),
    )
    hashed = exploded.select("__id", "__side", _h32(F.col("__g")).alias("__h"))
    params = minhash_params(num_hashes)
    sig = hashed.groupBy("__side", "__id").agg(
        *[
            F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(_MINHASH_P)).alias(f"__m{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    band_keys = [
        F.md5(
            F.concat_ws(
                ",",
                *[F.col(f"__m{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)],
            )
        )
        for b in range(bands)
    ]
    banded = sig.select(
        "__id", "__side",
        F.posexplode(F.array(*band_keys)).alias("band_idx", "band_key"),
    )
    buckets = (
        banded.groupBy("band_idx", "band_key")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("__side") == 0, F.col("__id")))
            ).alias("new_ids"),
            F.sort_array(
                F.collect_list(F.when(F.col("__side") == 1, F.col("__id")))
            ).alias("ref_ids"),
        )
        .where((F.size("new_ids") > 0) & (F.size("ref_ids") > 0))
    )
    pairs_sql = (
        "flatten(transform(new_ids, a -> "
        "transform(ref_ids, b -> struct(a AS new_id, b AS ref_id))))"
    )
    return (
        buckets.select(F.explode(F.expr(pairs_sql)).alias("p"))
        .select("p.new_id", "p.ref_id")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (id_a < id_b, jaccard >= t).

    Without ``candidates`` this is an inverted-index join: explode distinct
    shingles, self-join on the shingle, count shared shingles per pair, then
    |A∩B| / (|A|+|B|-|A∩B|). The shingle join only pairs documents that share
    at least one shingle — still superlinear on common shingles, so at scale
    feed ``candidates`` from :func:`lsh_candidate_pairs` to verify only
    bucketed pairs.
    """
    from .text import _ngrams_from_words, words

    base = _ensure_parallelism(df)
    if candidates is not None:
        # The candidate pair set is consumed three times below (two id
        # projections + the pair join); without a snapshot each consumption
        # re-executes the ENTIRE candidate-generation sub-plan (e.g. the
        # LSH pipeline). Pairs are (bigint, bigint) — tiny at any scale.
        candidates = snapshot(candidates.select("id_a", "id_b"))
        # verify mode touches only candidate documents: semi-join on the
        # candidate id set BEFORE computing shingles, so the expensive
        # tokenize+ngram pass runs over |candidates| docs, not the corpus
        # (the candidate set lists suspected duplicates — minuscule
        # relative to a 100 TB corpus)
        cand_ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        base = base.join(cand_ids, on=id_col, how="left_semi")

    sh = (
        base
        .select(F.col(id_col).alias("__id"), words(F.col(text_col)).alias("__w"))
        .select(
            "__id",
            F.array_distinct(_ngrams_from_words(F.col("__w"), shingle_n)).alias("__sh"),
        )
        .where(F.size("__sh") > 0)
    )

    if candidates is not None:
        # verify-only mode: join each candidate pair to its two shingle sets
        # and compute the exact Jaccard per pair with array_intersect — work
        # is O(|candidates| * shingles), never an all-pairs or index join.
        # sh is consumed twice (a/b sides): snapshot the candidate docs'
        # shingle sets (bounded by the candidate count) so the upstream
        # scan+tokenize chain runs once, not twice.
        sh = snapshot(sh)
        a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sa"))
        b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sb"))
        paired = candidates.select("id_a", "id_b").join(a, on="id_a").join(b, on="id_b")
        inter = F.size(F.array_intersect("__sa", "__sb"))
        jac = inter / (F.size("__sa") + F.size("__sb") - inter)
        return (
            paired.withColumn("jaccard", jac)
            .where(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )

    # inverted index by group-and-enumerate: carry each doc's set size with
    # it so no extra sizes join is needed; shared-shingle pair counts are the
    # intersection sizes. One scan, one shuffle on the shingle, one on pairs.
    exploded = sh.select(
        "__id", F.size("__sh").alias("__n"), F.explode("__sh").alias("s")
    )
    groups = (
        exploded.groupBy("s")
        .agg(F.sort_array(F.collect_list(F.struct("__id", "__n"))).alias("ms"))
        .where(F.size("ms") > 1)
    )
    pairs_sql = (
        "flatten(transform(ms, (x, i) -> "
        "transform(slice(ms, i + 2, size(ms) - i - 1), "
        "y -> struct(x.__id AS id_a, y.__id AS id_b, x.__n AS na, y.__n AS nb))))"
    )
    shared = (
        groups.select(F.explode(F.expr(pairs_sql)).alias("p"))
        .groupBy("p.id_a", "p.id_b", "p.na", "p.nb")
        .agg(F.count("*").alias("__inter"))
    )
    return (
        shared.withColumn(
            "jaccard", F.col("__inter") / (F.col("na") + F.col("nb") - F.col("__inter"))
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_neardup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    num_planes: int = 8,
    num_tables: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= t).

    Angular LSH: each of ``num_tables`` hash tables buckets every vector by
    the signs of ``num_planes`` random projections (disjoint plane sets per
    table — see :func:`~nested_pandas_spark.pipeline.similarity.srp_bucket`);
    only same-bucket pairs are candidates, then an exact cosine pass keeps
    real near-dups. P[bucket match] = (1 - theta/pi)^planes per table, so
    more planes => smaller buckets (cheaper verify, lower recall) and more
    tables => recall back up — the standard knobs. Candidate pairs come from
    group-and-enumerate (one aggregation per bucket, vectors carried in the
    bucket array) rather than a self-join, so the corpus is scanned and
    bucketed exactly once.

    Output: (id_a, id_b, cos_sim) with cos_sim rounded to 6 digits; the
    threshold is applied to the unrounded double.
    """
    from .similarity import _srp_tables_expr, cosine

    v = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    )
    tables = _srp_tables_expr("`__v`", num_planes, num_tables, dim=dim)
    blocked = v.select("__id", "__v", F.posexplode(tables).alias("tbl", "bucket"))
    buckets = (
        blocked.groupBy("tbl", "bucket")
        .agg(F.sort_array(F.collect_list(F.struct("__id", "__v"))).alias("ms"))
        .where(F.size("ms") > 1)
    )
    pairs_sql = (
        "flatten(transform(ms, (x, i) -> "
        "transform(slice(ms, i + 2, size(ms) - i - 1), "
        "y -> struct(x.__id AS id_a, y.__id AS id_b, "
        "x.__v AS va, y.__v AS vb))))"
    )
    scored = (
        buckets.select(F.explode(F.expr(pairs_sql)).alias("p"))
        .select(
            "p.id_a",
            "p.id_b",
            cosine(F.col("p.va"), F.col("p.vb")).alias("__cs"),
        )
        # the same pair found in several tables scores identically, so a
        # plain distinct dedupes across tables
        .distinct()
    )
    return scored.where(F.col("__cs") >= threshold).select(
        "id_a", "id_b", F.round("__cs", 6).alias("cos_sim")
    )


def simhash_from_hashes(h: Column, bits: int = 32) -> Column:
    """SimHash from a shingle-hash array: bit j is set when more than half
    the shingle hashes have bit j set (equivalent to the classic +1/-1 vote
    sum being positive). ``bits`` passes of a cheap ``filter``+``size`` —
    no per-shingle array allocation."""
    terms = [
        F.when(
            F.size(F.filter(h, lambda x: x.bitwiseAND(F.lit(1 << j)) != 0)) * 2
            > F.size(h),
            F.lit(1 << j).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for j in range(bits)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return F.when(F.size(h) > 0, total)


def simhash(text: Column | str, bits: int = 32, shingle_n: int = 2) -> Column:
    """SimHash over word-shingles. Returns BIGINT (NULL if unshingleable).

    Column-expression form; for hot paths prefer :func:`simhash_df`, which
    stages the tokenizer into bound columns (see staged_shingle_hashes).
    """
    sh = word_ngrams(text, shingle_n)
    return simhash_from_hashes(F.transform(sh, lambda s: _h32(s)), bits)


def simhash_df(
    df: DataFrame, id_col: str, text_col: str = "text", bits: int = 32,
    shingle_n: int = 2, alias: str = "simhash",
) -> DataFrame:
    """(id, simhash) — exploded-aggregation fast path.

    Per-bit set counts as grouped conditional sums over exploded shingle
    hashes (same rationale as lsh_candidate_pairs: generator input evaluates
    once per row, so the tokenizer can't be re-inlined per element).
    Rows that cannot shingle (short/NULL text) get a NULL simhash.
    """
    from .text import _ngrams_from_words, words

    exploded = _ensure_parallelism(df).select(
        F.col(id_col).alias("__id"),
        F.explode(_ngrams_from_words(words(F.col(text_col)), shingle_n)).alias("__g"),
    )
    hashed = exploded.select("__id", _h32(F.col("__g")).alias("__h"))
    bit_counts = hashed.groupBy("__id").agg(
        F.count("*").alias("__n"),
        *[
            F.sum(
                F.when(
                    F.call_function(
                        "shiftright", F.col("__h"), F.lit(j)
                    ).bitwiseAND(F.lit(1)) == 1,
                    1,
                ).otherwise(0)
            ).alias(f"__b{j}")
            for j in range(bits)
        ],
    )
    total = F.lit(0).cast("long")
    for j in range(bits):
        total = total + F.when(
            F.col(f"__b{j}") * 2 > F.col("__n"), F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    sig = bit_counts.select("__id", total.alias(alias))
    # reinstate unshingleable rows with NULL simhash
    ids = df.select(F.col(id_col).alias("__id")).distinct()
    return ids.join(sig, on="__id", how="left").select(
        F.col("__id").alias(id_col), F.col(alias)
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 32,
    shingle_n: int = 2,
    max_hamming: int = 3,
    block_bits: int = 8,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance.

    Blocked join: documents are bucketed by each of the ``bits/block_bits``
    blocks of their simhash (pigeonhole: two hashes within Hamming distance
    d < #blocks must agree on at least one full block), so the join is on
    block equality, never all-pairs.
    """
    sh = (
        simhash_df(df, id_col, text_col, bits, shingle_n, alias="__sh")
        .withColumnRenamed(id_col, "__id")
        .where(F.col("__sh").isNotNull())
    )
    return hamming_near_pairs(
        sh, "__id", "__sh", bits=bits, max_hamming=max_hamming,
        block_bits=block_bits,
    )


def hamming_near_pairs(
    df: DataFrame,
    id_col: str,
    hash_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    block_bits: int = 8,
) -> DataFrame:
    """All pairs with Hamming distance <= ``max_hamming`` between values of
    an integer ``hash_col`` — the blocked pairing shared by text SimHash
    (:func:`simhash_near_pairs`) and image perceptual hashes
    (:func:`~nested_pandas_spark.pipeline.multimodal.image_near_pairs`).

    Pigeonhole blocking: two hashes within Hamming distance d < #blocks
    must agree on at least one full ``block_bits`` block, so candidates
    join on block equality — never all-pairs. Pairs are enumerated
    in-array per bucket (one aggregation, ``id_a < id_b``); output
    ``(id_a, id_b, hamming)``, exact within the radius.
    """
    n_blocks = bits // block_bits
    if max_hamming >= n_blocks:
        raise ValueError("need max_hamming < number of blocks for pigeonhole blocking")
    sh = df.select(
        F.col(id_col).alias("__id"), F.col(hash_col).alias("__sh")
    ).where(F.col("__sh").isNotNull())
    mask = (1 << block_bits) - 1
    blocked = sh.select(
        "__id",
        "__sh",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_blocks - 1)),
                lambda b: F.call_function("shiftright", F.col("__sh"), b * block_bits).bitwiseAND(F.lit(mask)),
            )
        ).alias("blk_idx", "blk_key"),
    )
    # group-and-enumerate (see lsh_candidate_pairs): one aggregation per
    # block bucket, hashes computed once, pairs enumerated in-array
    buckets = (
        blocked.groupBy("blk_idx", "blk_key")
        .agg(F.sort_array(F.collect_list(F.struct("__id", "__sh"))).alias("ms"))
        .where(F.size("ms") > 1)
    )
    pairs_sql = (
        "flatten(transform(ms, (x, i) -> "
        "transform(slice(ms, i + 2, size(ms) - i - 1), "
        "y -> struct(x.__id AS id_a, y.__id AS id_b, "
        "x.__sh AS sha, y.__sh AS shb))))"
    )
    return (
        buckets.select(F.explode(F.expr(pairs_sql)).alias("p"))
        .select(
            "p.id_a",
            "p.id_b",
            F.bit_count(F.col("p.sha").bitwiseXOR(F.col("p.shb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """Connected components of a duplicate-pair graph: ``(node, component)``
    where ``component`` is the SMALLEST node id reachable via pairs.

    Pairwise drop-the-loser is wrong under transitivity — with verified
    pairs (2,3) and (1,3), dropping only ``id_b`` keeps both 1 and 2 even
    though 2~3~1 makes them one duplicate group. Component-min is the
    standard resolution (one representative per group).

    Algorithm: min-label propagation with pointer doubling. Each round a
    node adopts the smallest of (its label, its neighbors' labels, its
    label's label); the label-of-label hop halves chain lengths, so rounds
    are O(log diameter) — and dedup clusters have tiny diameters, so this
    converges in 2-3 rounds in practice. Every round shuffles only
    ``(bigint, bigint)`` label rows, never documents; the edge table is
    cached for the call and each round's labels are a snapshot, keeping
    lineage flat (the same structure the large-star/small-star map-reduce
    CC algorithm uses).

    Nodes appearing in no pair are absent from the output (they are their
    own singleton components; ``resolve_duplicates`` treats missing as
    keep).

    Small-graph fast path: the VERIFIED pair set is normally minuscule
    relative to the corpus (it lists duplicates, not documents). When the
    distinct edge count is at or below ``small_graph_threshold``, the
    (bigint, bigint) edges collect to the driver and a union-find labels
    them in one pass — replacing O(log d) rounds x several shuffles each
    with a single job. Identical output (component = min reachable id).
    Set ``small_graph_threshold=0`` to force the distributed path.
    """
    e = pairs.select(
        F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v")
    )
    edges = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    with cached(edges) as edges:
        if small_graph_threshold > 0:
            # limit()+count probes boundedly: never scans past threshold+1 rows
            probe = edges.limit(small_graph_threshold + 1).count()
            if probe <= small_graph_threshold:
                rows = edges.collect()
                parent: dict[int, int] = {}

                def find(x: int) -> int:
                    root = x
                    while parent.get(root, root) != root:
                        root = parent[root]
                    while parent.get(x, x) != x:  # path compression
                        parent[x], x = root, parent[x]
                    return root

                for r in rows:
                    ru, rv = find(r["u"]), find(r["v"])
                    if ru != rv:
                        # union by MIN id so the root IS the component label
                        lo, hi = (ru, rv) if ru < rv else (rv, ru)
                        parent[hi] = lo
                nodes = {r["u"] for r in rows}
                out = [(n, find(n)) for n in sorted(nodes)]
                return pairs.sparkSession.createDataFrame(
                    out or [], "node long, component long"
                )
        # initial label: min(self, min neighbor) — one round for free
        lbl = snapshot(
            edges.groupBy("u")
            .agg(F.min("v").alias("nmin"))
            .select("u", F.least(F.col("u"), F.col("nmin")).alias("lbl"))
        )
        for _ in range(max_iter):
            nbr = (
                edges.join(
                    lbl.select(F.col("u").alias("v"), F.col("lbl").alias("vlbl")),
                    "v",
                )
                .groupBy("u")
                .agg(F.min("vlbl").alias("nlbl"))
            )
            stepped = (
                lbl.join(nbr, "u", "left")
                .select("u", F.least("lbl", "nlbl").alias("lbl"))
            )
            # pointer doubling: lbl(u) <- min(lbl(u), lbl(lbl(u)))
            doubled = snapshot(
                stepped.alias("x")
                .join(
                    stepped.select(
                        F.col("u").alias("pu"), F.col("lbl").alias("plbl")
                    ).alias("y"),
                    F.col("x.lbl") == F.col("y.pu"),
                    "left",
                )
                .select(F.col("x.u").alias("u"), F.least("x.lbl", "plbl").alias("lbl"))
            )
            converged = (
                doubled.join(lbl.select("u", F.col("lbl").alias("old")), "u")
                .where(F.col("lbl") < F.col("old"))
                .isEmpty()
            )
            lbl = doubled
            if converged:
                break
    return lbl.select(F.col("u").alias("node"), F.col("lbl").alias("component"))


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str | None = None,
) -> DataFrame:
    """Keep one representative per duplicate group, where groups are
    CONNECTED COMPONENTS of the verified-pair graph — the transitively-
    correct version of "drop id_b of every pair".

    Default representative: the smallest id. With ``score_col``, the
    HIGHEST-scored member wins instead (ties to smallest id) — the
    cluster-grain version of :func:`dedup_keep_best`, i.e. the
    RefinedWeb retention policy applied to NEAR-duplicate clusters, not
    just exact ones. NULL scores sort lowest.

    The anti-join side carries only loser ids (bigint), so at corpus scale
    it is a bounded shuffle (or a broadcast when the dup fraction is small);
    the score join touches (id, score) pairs only — never text.
    """
    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    if score_col is None:
        losers = cc.where(F.col("node") != F.col("component")).select(
            F.col("node").alias("__loser")
        )
    else:
        scored = cc.join(
            docs.select(
                F.col(id_col).alias("node"),
                F.coalesce(
                    F.col(score_col).cast("double"), F.lit(float("-inf"))
                ).alias("__s"),
            ),
            on="node",
            how="left",
        )
        winners = scored.groupBy("component").agg(
            F.expr(
                "max_by(node, named_struct('s', __s, 'i', -node))"
            ).alias("__winner")
        )
        losers = (
            scored.join(winners, on="component")
            .where(F.col("node") != F.col("__winner"))
            .select(F.col("node").alias("__loser"))
        )
    return docs.join(
        losers, on=docs[id_col] == losers["__loser"], how="left_anti"
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iters: int = 2,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): k-means
    cluster the embeddings, then compare pairs ONLY within a cluster and
    drop every vector whose cosine to a smaller-id cluster-mate reaches
    ``threshold`` — keep-min-id, the paper's "keep one representative per
    semantic group" with a deterministic tie-break.

    Output: one row per input vector — (``id_col``, cid, kept), where
    ``cid`` is the assigned cluster and ``kept`` is false iff a smaller-id
    near-duplicate exists in the same cluster.

    Scale design (the whole point of the clustering): the quadratic
    pairwise-cosine pass shrinks from |corpus|^2 to sum over clusters of
    |C|^2 — with k clusters of even size, a k-fold reduction, and in
    practice far more because only same-topic vectors ever meet. The
    within-cluster comparison is a plain equi-join on ``cid`` — hash
    partitioned, combinable map-side, and AQE splits a skewed mega-cluster
    automatically. Centroids come from
    :func:`~nested_pandas_spark.pipeline.similarity.ivf_centroids`
    (md5-seeded + deterministic Lloyd rounds) and ship inside the task of
    the Arrow-batched assignment pass
    (:func:`~nested_pandas_spark.pipeline.similarity.with_nearest_ids`),
    a zero-shuffle map whose scores are the Spark cosine fold bit for bit,
    so the DuckDB oracle can replay the entire pipeline, clustering
    included, to the digit. At 100 TB you'd raise
    ``n_centroids`` so that E[|C|] keeps the per-cluster join bounded
    (sqrt(N) clusters is the classic balance point) and write the corpus
    partitioned by ``cid`` so reruns skip the assignment scan.

    The reference library has no semantic dedup; this extends the LLM
    pipeline family (exact/minhash/simhash/embedding-LSH) with the
    embedding-clustering variant used for web-scale pretraining corpora.
    """
    from .similarity import cosine, ivf_centroids, with_nearest_ids

    cents = ivf_centroids(corpus, id_col, vec_col, n_centroids, n_iters)
    base = with_nearest_ids(
        corpus.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        ),
        F.col("__v"), cents, 1,
    ).withColumn("cid", F.col("__cids")[0]).drop("__cids")
    a = base.select("cid", F.col("__id").alias("__ida"), F.col("__v").alias("__va"))
    b = base.select("cid", F.col("__id").alias("__idb"), F.col("__v").alias("__vb"))
    # the dropped set: ids with a SMALLER-id near-dup in the same cluster.
    # Only (id) survives the aggregation, so the anti-join side is narrow.
    dropped = (
        a.join(b, on="cid")
        .where(F.col("__ida") < F.col("__idb"))
        .where(cosine(F.col("__va"), F.col("__vb")) >= F.lit(threshold))
        .select(F.col("__idb").alias("__dropped"))
        .distinct()
    )
    return (
        base.join(dropped, base["__id"] == dropped["__dropped"], how="left")
        .select(
            F.col("__id").alias(id_col),
            "cid",
            F.col("__dropped").isNull().alias("kept"),
        )
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
    q: int = 2,
    max_posting: int | None = None,
) -> DataFrame:
    """Edit-distance near-pairs via q-gram blocking — record-linkage /
    entity-resolution for SHORT strings (names, codes, labels), where
    MinHash shingles are too coarse.

    Output: (id_a, id_b, dist) with id_a < id_b and
    ``levenshtein(a, b) <= max_dist``. Candidates are pairs sharing at
    least one character q-gram; pigeonhole guarantees completeness for
    strings longer than ``q * (max_dist + 1) + q - 1`` characters (an
    edit destroys at most q q-grams, so with fewer than
    ``len - q + 1 - max_dist*q`` destroyed some q-gram survives intact).
    Shorter strings additionally block on length buckets
    ``LEN:n .. LEN:n+max_dist`` (edits change length by at most 1 each),
    so e.g. 2-char codes still pair with their neighbors at any
    ``max_dist`` — blocking is complete for every ``max_dist``, not just 1.

    Scale shape: strings explode to ~len q-grams, pairs enumerate only
    within a (q-gram) posting — the classic blocked similarity join, never
    all-pairs; the exact ``levenshtein`` filter runs only on candidates.
    Hot q-grams (e.g. 'th') create big postings whose pair enumeration is
    quadratic — ``max_posting`` drops any blocking key shared by more than
    that many strings (the production skew valve). With the cap on,
    completeness weakens to: pairs are found unless EVERY shared q-gram is
    hot — for near-duplicate strings (many shared grams) misses need the
    whole string to be made of stopword-grams. AQE splits surviving skew.

    Examples
    --------
    >>> from nested_pandas_spark.pipeline.dedup import fuzzy_pairs
    >>> df = spark.createDataFrame(
    ...     [(1, "spark"), (2, "spurk"), (3, "duckdb")], "id long, s string")
    >>> [(r["id_a"], r["id_b"], r["dist"])
    ...  for r in fuzzy_pairs(df, "id", "s", max_dist=1).collect()]
    [(1, 2, 1)]
    """
    if max_dist < 0:
        raise ValueError("max_dist must be >= 0")
    if q < 1:
        raise ValueError("q must be >= 1")
    base = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__s")
    ).where(F.col("__s").isNotNull())
    guaranteed = q * (max_dist + 1) + q - 1
    grams = base.select(
        "__id", "__s",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length(__s) - {q} + 1, 1)), "
                    f"__i -> substring(__s, __i, {q}))"
                )
            )
        ).alias("__g"),
    )
    # short strings: length-bucket blocking catches what q-grams can't.
    # Each edit changes length by at most 1, so a pair within max_dist can
    # differ in length by up to max_dist: emit buckets LEN:n .. LEN:n+max_dist
    # (an O(max_dist) blowup, constant in practice) so any legal length
    # difference shares a bucket. LEN:n/LEN:n+1 alone missed short pairs
    # whose lengths differ by 2+ at max_dist >= 2 (e.g. 'ab' vs 'axby').
    shorts = base.where(F.length("__s") <= guaranteed).select(
        "__id", "__s",
        F.explode(
            F.expr(
                f"transform(sequence(0, {max_dist}), __d -> "
                f"concat('LEN:', CAST(length(__s) + __d AS STRING)))"
            )
        ).alias("__g"),
    )
    blocked = grams.unionByName(shorts)
    if max_posting is not None:
        if max_posting < 2:
            raise ValueError("max_posting must be >= 2")
        hot = (
            blocked.groupBy("__g").agg(F.count("*").alias("__n"))
            .where(F.col("__n") > max_posting)
            .select("__g")
        )
        blocked = blocked.join(hot, on="__g", how="left_anti")
    a = blocked.select(
        F.col("__id").alias("id_a"), F.col("__s").alias("__sa"), "__g"
    )
    b = blocked.select(
        F.col("__id").alias("id_b"), F.col("__s").alias("__sb"), "__g"
    )
    return (
        a.join(b, on="__g")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sa", "__sb")
        .distinct()
        .select(
            "id_a", "id_b",
            F.levenshtein(F.col("__sa"), F.col("__sb")).alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


def dedup_passages(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    stride: int = 1,
    min_count: int = 2,
) -> DataFrame:
    """EXACT substring deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): remove every repeated
    ``window``-token passage from all but one canonical occurrence, even
    when the surrounding documents are otherwise unrelated — the dedup
    mode MinHash (whole-document) misses, and the one that deletes the
    memorization-prone boilerplate/licence/navigation passages.

    Token grain: whitespace tokens of the raw text (case-sensitive — this
    is *exact* substring matching). A passage occurrence is ``(doc,
    start)`` for each window of ``window`` consecutive tokens at starts
    ``0, stride, 2*stride, ...``; occurrences are keyed by the md5 of the
    space-joined window. A passage repeated >= ``min_count`` times
    corpus-wide keeps only its minimal ``(doc_id, start)`` occurrence;
    every other occurrence's token span is deleted. Overlapping deleted
    spans count each position once.

    Returns one row per input row: ``id_col``, ``text_deduped`` (kept
    tokens joined by single spaces — output text is whitespace-normalized;
    NULL text stays NULL), ``n_removed`` (deleted token count).

    Scale shape: the corpus expands to ~``n_tokens/stride`` occurrence
    rows of (id, start, 32-char hash) — hashes shuffle, text never does.
    The passage-count aggregation is a partial-agg ``groupBy`` (map-side
    combine keeps a boilerplate passage repeated millions of times from
    hot-spotting one reducer); the occurrence->dup join re-shuffles on the
    same key (AQE splits residual skew), and the final span join is
    doc-grain. The 128-bit key is deliberate: at 10^12 windows a 64-bit
    key would birthday-collide and silently delete non-duplicate text.
    ``stride > 1`` divides the expansion cost but only catches passages
    aligned to the stride — the standard recall/cost dial.

    >>> df = spark.createDataFrame(
    ...     [(0, "the quick brown fox jumps high"),
    ...      (1, "lazy dogs and the quick brown fox jumps over it"),
    ...      (2, None)],
    ...     "doc_id long, text string")
    >>> [(r["doc_id"], r["text_deduped"], r["n_removed"])
    ...  for r in dedup_passages(df, window=4).orderBy("doc_id").collect()]
    [(0, 'the quick brown fox jumps high', 0), (1, 'lazy dogs and over it', 5), (2, None, 0)]
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if stride < 1:
        raise ValueError("stride must be >= 1")
    if min_count < 2:
        raise ValueError("min_count must be >= 2")
    qi, qt = F.col(id_col), F.col(text_col)
    staged = docs.select(
        qi.alias("__id"),
        qt.alias("__text"),
        F.expr(
            f"filter(split({text_col}, '\\\\s+'), __t -> __t <> '')"
        ).alias("__toks"),
    ).withColumn("__n", F.coalesce(F.size("__toks"), F.lit(0)))
    occ = staged.where(F.col("__n") >= window).select(
        "__id",
        F.explode(
            F.expr(f"sequence(0, __n - {window}, {stride})")
        ).alias("__start"),
        F.col("__toks"),
    ).select(
        "__id",
        "__start",
        F.md5(
            F.expr(f"array_join(slice(__toks, __start + 1, {window}), ' ')")
        ).alias("__h"),
    )
    agg = (
        occ.groupBy("__h")
        .agg(
            F.count("*").alias("__c"),
            F.min(F.struct("__id", "__start")).alias("__owner"),
        )
        .where(F.col("__c") >= min_count)
        .select("__h", "__owner")
    )
    removed = (
        occ.join(agg, "__h")
        .where(
            ~((F.col("__id") == F.col("__owner.__id"))
              & (F.col("__start") == F.col("__owner.__start")))
        )
        .groupBy("__id")
        .agg(F.collect_list("__start").alias("__starts"))
    )
    out = staged.join(removed, "__id", "left")
    kept = (
        f"CASE WHEN __starts IS NULL THEN __toks ELSE "
        f"filter(__toks, (__t, __i) -> NOT exists(__starts, "
        f"__s -> __i >= __s AND __i < __s + {window})) END"
    )
    return out.select(
        F.col("__id").alias(id_col),
        F.when(
            F.col("__text").isNull(), F.lit(None).cast("string")
        ).otherwise(F.expr(f"array_join({kept}, ' ')")).alias("text_deduped"),
        F.when(F.col("__text").isNull(), F.lit(0).cast("long")).otherwise(
            (F.col("__n") - F.size(F.expr(kept))).cast("long")
        ).alias("n_removed"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkinson, Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every word ``k``-gram, then
    in each sliding window of ``window`` consecutive hashes keep the
    minimum (rightmost occurrence on ties), deduplicated. The selected
    (position, hash) pairs are the document's fingerprint set — the
    guarantee is any shared substring of at least ``k + window - 1``
    words produces at least one shared fingerprint, at ~2/(window+1)
    sampling density.

    Output: one row per selected fingerprint ``(id_col, pos, fp)`` where
    ``pos`` is the 0-based k-gram position and ``fp`` an 8-hex-digit hash
    (``substr(md5(gram),1,8)`` — engine-portable: any total order works
    for winnowing, and fixed-width hex compares identically as a string
    everywhere). Documents with fewer than ``k`` words yield no rows;
    fewer than ``window`` k-grams winnow over the single short window.

    Scale shape: one pure-HOF projection (token array, hash array, and
    per-window argmin scans all let-bound so Catalyst inlining can't
    re-evaluate them — see gopher_repetition) plus an explode. Zero
    shuffle; text never leaves its partition. Downstream matching joins
    on ``fp`` — hash-only shuffle, the same shape as exact-substring
    dedup (`dedup_passages`).
    """
    k, window = int(k), int(window)
    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1, got k={k} window={window}")
    qt = "`" + text_col.replace("`", "``") + "`"
    w_sql = f"filter(split(lower({qt}), '\\\\s+'), __t -> __t != '')"
    grams = (
        f"CASE WHEN size(__w) >= {k} THEN "
        f"transform(sequence(0, size(__w) - {k}), "
        f"__i -> substring(md5(array_join(slice(__w, __i + 1, {k}), ' ')), 1, 8)) "
        f"ELSE CAST(array() AS array<string>) END"
    )
    # per-window argmin, rightmost on ties: scanning j ascending and
    # replacing on <= leaves the rightmost minimal hash
    argmin = (
        f"aggregate(sequence(__s, least(__s + {window}, size(__h)) - 1), "
        f"named_struct('pos', CAST(-1 AS BIGINT), 'fp', CAST(NULL AS STRING)), "
        f"(__a, __j) -> CASE WHEN __a.fp IS NULL "
        f"OR element_at(__h, CAST(__j + 1 AS INT)) <= __a.fp "
        f"THEN named_struct('pos', __j, 'fp', element_at(__h, CAST(__j + 1 AS INT))) "
        f"ELSE __a END)"
    )
    fps = (
        f"CASE WHEN {qt} IS NULL THEN "
        f"CAST(array() AS array<struct<pos: bigint, fp: string>>) ELSE "
        f"element_at(transform(array({w_sql}), __w -> "
        f"element_at(transform(array({grams}), __h -> "
        f"CASE WHEN size(__h) = 0 THEN "
        f"CAST(array() AS array<struct<pos: bigint, fp: string>>) ELSE "
        f"array_distinct(transform(sequence(0, greatest(size(__h) - {window}, 0)), "
        f"__s -> {argmin})) END), 1)), 1) END"
    )
    return (
        docs.select(F.col(id_col), F.explode(F.expr(fps)).alias("__fp"))
        .select(
            F.col(id_col),
            F.col("__fp.pos").alias("pos"),
            F.col("__fp.fp").alias("fp"),
        )
    )


def winnow_near_pairs(
    docs: DataFrame,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_posting: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs from shared winnowing fingerprints
    (the MOSS matching step over :func:`winnow_fingerprints`): pairs of
    documents sharing at least ``min_shared`` DISTINCT selected
    fingerprints, with the share count. Winnowing's guarantee makes this
    a substring-overlap detector — any common run of ``k + window - 1``
    words is caught — complementary to MinHash (whole-document Jaccard)
    and exact-substring dedup (fixed-width passages).

    Output: ``(id_a, id_b, n_shared)`` with ``id_a < id_b``.

    Scale shape: fingerprints (8-hex strings) shuffle, text never; pairs
    enumerate only within a fingerprint's posting list — the classic
    blocked similarity join. A fingerprint shared by p documents
    contributes O(p^2) pairs, so corpus-wide boilerplate makes a posting
    quadratic — ``max_posting`` (>= 2) drops any fingerprint shared by
    more than that many documents (boilerplate this common is better
    handled by strip_boilerplate_lines first; the same valve and caveat
    as :func:`fuzzy_pairs`).
    """
    min_shared = int(min_shared)
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if max_posting is not None and int(max_posting) < 2:
        raise ValueError(f"max_posting must be >= 2, got {max_posting}")
    fps = (
        winnow_fingerprints(docs, k=k, window=window,
                            id_col=id_col, text_col=text_col)
        .select(F.col(id_col), "fp").distinct()
    )
    # group-and-enumerate instead of a posting self-join (the
    # lsh_candidate_pairs shape): a join would scan the corpus and run
    # the winnowing HOF pass TWICE (once per side, no exchange reuse),
    # and the max_posting pre-count was a third pass. One aggregation
    # per fingerprint folds all three: the posting list is the group,
    # its size is the max_posting guard, and in-array enumeration emits
    # each shared-fingerprint pair exactly once (ids are distinct within
    # a posting because fps is distinct). Posting sizes are bounded by
    # max_posting, so the quadratic enumeration stays per-posting-tiny.
    groups = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_posting is not None:
        groups = groups.where(F.size("ids") <= int(max_posting))
    pairs_sql = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    return (
        groups.select(F.explode(F.expr(pairs_sql)).alias("p"))
        .groupBy("p.id_a", "p.id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


class BloomBitmap:
    """A built Bloom filter over reference fingerprints.

    ``words`` is the bitmap as ``num_bits // 64`` longs. At the default
    2^23 bits the object is 1 MiB — ship it executor-side as a broadcast
    one-row DataFrame (``_bloom_df``), NEVER as plan literals (the
    centroid-assignment lesson: a literal array this size explodes the
    plan and codegen).
    """

    __slots__ = ("words", "num_bits", "num_hashes")

    def __init__(self, words: list[int], num_bits: int, num_hashes: int):
        if num_bits % 64:
            raise ValueError("num_bits must be a multiple of 64")
        self.words = words
        self.num_bits = num_bits
        self.num_hashes = num_hashes


def _bloom_positions(fp: Column, num_bits: int, num_hashes: int) -> Column:
    """The k bit positions of one fingerprint: xxhash64(fp:j) mod m."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda j: F.pmod(
            F.xxhash64(F.concat(fp, F.lit(":"), j.cast("string"))),
            F.lit(num_bits),
        ),
    )


def build_fingerprint_bloom(
    ref: DataFrame,
    text_col: str = "text",
    num_bits: int = 1 << 23,
    num_hashes: int = 5,
) -> BloomBitmap:
    """Build a Bloom bitmap of ``ref``'s normalized fingerprints.

    Fully distributed: fingerprints explode to k bit positions, a
    map-side-combined ``bit_or`` per 64-bit word builds the bitmap, and
    only the set words (<= num_bits/64 rows, 128 KiB per MiB of bitmap)
    ever reach the driver. Build once per accepted-corpus snapshot,
    reuse across every ingest batch.

    Sizing: false-positive rate ~ (1 - e^(-k*n/m))^k; the 2^23-bit
    default holds ~1M fingerprints at <2% FP with k=5. At 10^9
    fingerprints use num_bits=2^33 (1 GiB — still one broadcast).
    """
    fp = ref.select(fingerprint(text_col).alias("__fp")).where(
        F.col("__fp").isNotNull()
    ).distinct()
    pos = fp.select(
        F.explode(_bloom_positions(F.col("__fp"), num_bits, num_hashes)).alias("p")
    )
    rows = (
        pos.select(
            (F.col("p") / 64).cast("long").alias("w"),
            F.call_function("shiftleft", F.lit(1).cast("long"),
                            (F.col("p") % 64).cast("int")).alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .collect()
    )
    words = [0] * (num_bits // 64)
    for r in rows:
        words[int(r["w"])] = int(r["bits"])
    return BloomBitmap(words, num_bits, num_hashes)


def bloom_dedup_against(
    new: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bloom: BloomBitmap | None = None,
    num_bits: int = 1 << 23,
    num_hashes: int = 5,
) -> DataFrame:
    """:func:`dedup_against` with a Bloom pre-filter on the batch side.

    Rows of ``new`` with any unset bit are *definitely* not in ``ref``
    (Bloom filters have no false negatives) and skip the join entirely;
    only candidate hits — true duplicates plus the ~FP-rate tail — take
    the exact LEFT ANTI join against ``ref``'s fingerprints, which
    removes the false positives. Output rows and semantics are
    IDENTICAL to ``dedup_against(within_batch=False)``; the bitmap only
    routes rows around the join.

    Scale shape: every ingest batch reuses the once-built broadcast
    bitmap (pass ``bloom=``), so the recurring cost is a map-only bit
    probe over the batch plus an anti-join whose left side is ~the true
    duplicates — instead of re-shuffling the full batch against a
    billion-row fingerprint table on every ingest. NULL-text rows
    bypass the filter and survive (anti-join semantics: NULL never
    matches).
    """
    if bloom is None:
        bloom = build_fingerprint_bloom(ref, text_col, num_bits, num_hashes)
    spark = new.sparkSession
    bitmap_df = spark.createDataFrame(
        [(bloom.words,)], "__bloom array<long>"
    )
    stamped = new.withColumn("__fp", fingerprint(text_col)).crossJoin(
        F.broadcast(bitmap_df)
    )
    hit = F.forall(
        _bloom_positions(F.col("__fp"), bloom.num_bits, bloom.num_hashes),
        lambda p: (
            F.element_at(F.col("__bloom"), (p / 64).cast("int") + 1)
            .bitwiseAND(F.call_function("shiftleft", F.lit(1).cast("long"),
                                        (p % 64).cast("int")))
            != 0
        ),
    )
    maybe_dup = F.col("__fp").isNotNull() & F.coalesce(hit, F.lit(False))
    definite_new = stamped.where(~maybe_dup).drop("__bloom")
    candidates = stamped.where(maybe_dup).drop("__bloom")
    ref_fp = ref.select(fingerprint(text_col).alias("__fp")).distinct()
    survivors = candidates.join(ref_fp, on="__fp", how="left_anti")
    return definite_new.unionByName(survivors).drop("__fp")


def lsh_candidate_probability(s: float, bands: int, rows: int) -> float:
    """P(two documents with Jaccard similarity ``s`` become an LSH
    candidate pair) under banding: ``1 - (1 - s^rows)^bands`` — the
    S-curve every MinHash-LSH textbook plots (Leskovec/Rajaraman/Ullman,
    Mining of Massive Datasets ch. 3, public formula)."""
    if not 0.0 <= s <= 1.0:
        raise ValueError("s must be in [0, 1]")
    if bands < 1 or rows < 1:
        raise ValueError("bands and rows must be >= 1")
    return 1.0 - (1.0 - s**rows) ** bands


def lsh_tuning(
    threshold: float,
    num_hashes: int = 16,
    eps: float = 0.05,
) -> dict:
    """Pick the banding of ``num_hashes`` MinHash rows whose S-curve
    inflection ``(1/bands)^(1/rows)`` sits closest to the target Jaccard
    ``threshold`` — the knob-setting step before
    :func:`lsh_candidate_pairs`, usually done by hand-waving; this makes
    it a computed, documented choice.

    Returns ``{"bands", "rows", "inflection", "p_at_threshold",
    "p_below", "p_above"}`` where ``p_below``/``p_above`` are the
    candidate probabilities at ``threshold ∓ eps`` — the false-positive
    and false-negative pressure at the chosen operating point. Driver
    arithmetic only."""
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    if num_hashes < 2:
        raise ValueError("num_hashes must be >= 2")
    best = None
    for bands in range(1, num_hashes + 1):
        if num_hashes % bands:
            continue
        rows = num_hashes // bands
        inflection = (1.0 / bands) ** (1.0 / rows)
        score = abs(inflection - threshold)
        if best is None or score < best[0]:
            best = (score, bands, rows, inflection)
    _, bands, rows, inflection = best
    lo = max(0.0, threshold - eps)
    hi = min(1.0, threshold + eps)
    return {
        "bands": bands,
        "rows": rows,
        "inflection": round(inflection, 6),
        "p_at_threshold": round(
            lsh_candidate_probability(threshold, bands, rows), 6),
        "p_below": round(lsh_candidate_probability(lo, bands, rows), 6),
        "p_above": round(lsh_candidate_probability(hi, bands, rows), 6),
    }
