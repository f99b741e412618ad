"""Similarity search over embedding columns (``array<float>``).

* brute-force cosine top-k — the exactness baseline: broadcast the (small)
  query set against the corpus; dot products via ``zip_with``+``aggregate``
  HOFs (JVM-side, no Python UDF; Spark evaluates HOF lambdas interpreted,
  ``CodegenFallback``, not in generated code); per-query top-k via window
  rank.
* SRP-LSH bucketed ANN — the scale path: sign-random-projection bucket keys
  from deterministic md5-derived hyperplanes; candidates only join within a
  bucket, then exact re-rank. Sub-linear candidate generation at 100 TB; the
  planes are pseudo-random but fully deterministic (seeded by plane index),
  so results are reproducible and oracle-checkable.
* IVF / PQ / IVF-PQ — one assignment engine: cells, codes and residuals
  come from Arrow-batched NumPy passes (``with_nearest_ids``,
  ``pq_encode``, ``with_ivf_residuals``, the Lloyd rounds) whose folds are
  bit-identical to the Spark HOF expressions (``cosine``, ``_l2sq``); the
  search itself is one such pass per corpus scan
  (``_adc_scan_topk_arrow``): cell, code, ADC score and exact re-rank
  distance per batch.
"""

from __future__ import annotations

import functools
from contextlib import nullcontext

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.nested import quote
from ..session import cached, drop_zip_finders

__all__ = [
    "cosine", "dot", "norm", "brute_force_topk", "srp_bucket",
    "quantize_embeddings", "dequantize_embeddings", "quantized_topk",
    "random_projection",
    "srp_probe_buckets", "lsh_topk",
    "ivf_centroids", "ivf_topk", "kmeans_refine",
    "pq_codebooks", "pq_encode", "pq_decode", "pq_topk", "ivfpq_topk",
    "pq_adc_scores",
    "with_ivf_residuals",
    "knn_join", "hard_negatives", "recall_at_k", "semantic_decontaminate",
]


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _per_query_topk(
    scored: DataFrame,
    k: int,
    partial_buckets: int | None = None,
    score_col: str = "cos_sim",
    id_col: str = "neighbor_id",
) -> DataFrame:
    """Two-stage tournament top-k over (query_id, ``id_col``, ``score_col``).

    A single ``Window.partitionBy("query_id")`` would funnel EVERY scored row
    for a query through one task — with 10 queries over a 100 TB corpus that
    is 10 tasks holding the world. Stage 1 ranks within (query_id, salt)
    slices — the full scored volume shuffles once but spreads over
    ``queries x partial_buckets`` tasks, and only k rows survive per slice.
    Stage 2 ranks the <= k*partial_buckets survivors per query — a tiny
    shuffle. Exact top-k is invariant under the tournament, so results are
    identical to the single-window plan.
    """
    if partial_buckets is None:
        from ..session import default_parallelism

        partial_buckets = default_parallelism(scored.sparkSession) * 4
    order = [F.col(score_col).desc(), F.col(id_col).asc()]
    w1 = Window.partitionBy("query_id", "__salt").orderBy(*order)
    pre = (
        scored.withColumn(
            "__salt",
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(partial_buckets)),
        )
        .withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= k)
        .drop("__salt", "__r1")
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    return pre.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    partial_buckets: int | None = None,
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus rows.

    Output: (query_id, neighbor_id, cos_sim, rank). The query side is
    broadcast (it's the small side by construction); the corpus streams
    through map-side — total cost one corpus scan, then the two-stage
    tournament top-k (:func:`_per_query_topk`, no per-query hotspot task).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    scored = c.crossJoin(F.broadcast(q)).where(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        cosine(
            F.col("__qv").cast("array<double>"), F.col("__cv").cast("array<double>")
        ).alias("cos_sim"),
    )
    return _per_query_topk(scored, k, partial_buckets)


def _lit_double_array(values) -> Column:
    """Literal ``array<double>`` in ONE py4j call (a parsed SQL
    expression). Building constant arrays element-by-element
    (``F.array(*[F.lit(x) ...])``) costs a py4j round trip per element —
    a 16-plane x 256-dim SRP plane set is ~8000 round trips, seconds of
    DRIVER time per query build before Spark ever sees the plan. ``repr``
    of a Python float round-trips exactly and Java's Double.parseDouble
    is correctly rounded, so the literal doubles are bit-identical to the
    F.lit formulation."""
    return F.expr(
        "array(" + ",".join(repr(float(v)) + "D" for v in values) + ")")


def plane_component(plane: int, dim_idx: int) -> float:
    """Deterministic ±1 hyperplane entry from md5('plane:dim') parity.

    Computed driver-side once per (plane, dim) — NOT per row. The DuckDB
    oracle reproduces the identical value from the same md5 formula.
    """
    import hashlib

    h = int(hashlib.md5(f"{plane}:{dim_idx}".encode()).hexdigest()[:4], 16)
    return 1.0 if h % 2 == 0 else -1.0


@functools.lru_cache(maxsize=4096)
def _plane_literal(plane: int, n_dims: int) -> Column:
    """Cached literal array for SRP plane ``plane`` over ``n_dims``
    dimensions. The plane set is deterministic (md5 parity), so the
    Column is memoized — repeated LSH query builds (every lsh_topk /
    knn_join / hard_negatives call) pay the md5 loop and expression
    parse once per (plane, n_dims) per process instead of per build."""
    return _lit_double_array(
        [plane_component(plane, i) for i in range(n_dims)])


@functools.lru_cache(maxsize=4096)
def _plane_sql(plane: int, n_dims: int) -> str:
    return ("array(" + ",".join(
        repr(plane_component(plane, i)) + "D" for i in range(n_dims)) + ")")


def _srp_bucket_sql(
    vec_sql: str, num_planes: int, n_dims: int, plane_offset: int,
) -> str:
    """The :func:`srp_bucket` expression as SQL TEXT over a column
    reference — parsed JVM-side in ONE py4j round trip. Column-object
    construction costs a round trip per node (~2-8 ms each on this
    gateway): a 2-table 8-plane bucket pair was multiple SECONDS of
    driver time per query build. The parsed tree is node-for-node the
    expression the Column form builds (same zip_with/aggregate fold,
    same casts), so values — and the DuckDB oracles — are unchanged."""
    bits = []
    for p in range(num_planes):
        d = (
            f"aggregate(zip_with({vec_sql}, "
            f"slice({_plane_sql(plane_offset + p, n_dims)}, 1, "
            f"size({vec_sql})), (v, c) -> CAST(v AS DOUBLE) * c), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN {d} > 0 THEN {1 << p}L ELSE 0L END)")
    return "(" + " + ".join(bits) + ")"


def _srp_tables_expr(
    vec_sql: str, num_planes: int, num_tables: int, dim: int | None = None,
) -> Column:
    """``array<long>`` of one SRP bucket per table (what every LSH
    corpus/self-join side explodes), as one parsed expression."""
    n_dims = dim or 256
    return F.expr(
        "array(" + ",".join(
            _srp_bucket_sql(vec_sql, num_planes, n_dims, t * num_planes)
            for t in range(num_tables)
        ) + ")")


def _srp_probe_sql(
    vec_sql: str, num_planes: int, multi_probe: int, n_dims: int,
    plane_offset: int,
) -> str:
    """:func:`srp_probe_buckets` as SQL text (see
    :func:`_srp_bucket_sql`): own bucket plus the ``multi_probe``
    smallest-margin bit flips."""
    dots = []
    for p in range(num_planes):
        dots.append(
            f"aggregate(zip_with({vec_sql}, "
            f"slice({_plane_sql(plane_offset + p, n_dims)}, 1, "
            f"size({vec_sql})), (v, c) -> CAST(v AS DOUBLE) * c), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
    bucket = "(" + " + ".join(
        f"(CASE WHEN {dots[p]} > 0 THEN {1 << p}L ELSE 0L END)"
        for p in range(num_planes)
    ) + ")"
    if multi_probe <= 0:
        return f"array({bucket})"
    flips = "array(" + ",".join(
        f"named_struct('m', abs({dots[p]}), 'b', ({bucket} ^ {1 << p}L))"
        for p in range(num_planes)
    ) + ")"
    probed = (
        f"transform(slice(array_sort({flips}), 1, "
        f"{min(multi_probe, num_planes)}), s -> s.b)"
    )
    return f"concat(array({bucket}), {probed})"


def srp_bucket(
    vec: Column, num_planes: int = 8, dim: int | None = None,
    plane_offset: int = 0,
) -> Column:
    """Sign-random-projection bucket id (0 .. 2^num_planes - 1).

    bit p = sign(dot(vec, plane_p)). Planes are ±1 literals baked into the
    plan (an 8x64 constant matrix costs nothing per row); without ``dim``
    the plane entry is looked up positionally from a literal array, handling
    any vector length up to 256 (pass ``dim`` for larger or exact sizing).
    ``plane_offset`` shifts into a disjoint plane set — table t of a
    multi-table LSH uses ``plane_offset=t*num_planes`` so its buckets are
    independent of table t-1's.
    """
    n_dims = dim or 256
    bits = []
    for p in range(num_planes):
        plane = _plane_literal(plane_offset + p, n_dims)
        d = F.aggregate(
            F.zip_with(vec, F.slice(plane, 1, F.size(vec)),
                       lambda v, c: v.cast("double") * c),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        bits.append(
            F.when(d > 0, F.lit(1 << p).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return total


def seed_vectors(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int = 16,
) -> list[tuple[int, list[float]]]:
    """The ``n`` corpus vectors with the smallest md5(id) — the shared
    deterministic seeding rule of the whole ANN family (no RNG state,
    identical in any engine). ``orderBy(md5).limit(n)`` plans as a
    map-side partial top-k (TakeOrderedAndProject): no full sort, no
    extra shuffle, even over a 100 TB corpus. A PREFIX property holds:
    the first k of ``seed_vectors(n)`` equal ``seed_vectors(k)``, so one
    scan can seed both the IVF and the PQ codebooks (see
    :func:`ivfpq_topk`). Rows whose vector is NULL are skipped: they have
    no coordinates to seed from."""
    rows = (
        corpus.select(
            F.col(vec_col).cast("array<double>").alias("__v"),
            F.md5(F.col(id_col).cast("string")).alias("__h"),
        )
        .where(F.col("__v").isNotNull())
        .orderBy("__h")
        .limit(n)
        .collect()
    )
    return [(cid, r["__v"]) for cid, r in enumerate(rows)]


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iters: int = 0,
    seeds: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """Deterministic IVF centroids: seeds are the ``n_centroids`` corpus
    vectors with the smallest md5(id) — a reproducible pseudo-random sample
    (no RNG state, identical in any engine). ``orderBy(md5).limit(n)``
    plans as a map-side partial top-k (TakeOrderedAndProject): no full
    sort, no extra shuffle, even over a 100 TB corpus.

    ``n_iters>0`` refines the seeds with that many Lloyd k-means rounds
    (:func:`kmeans_refine`, cosine assignment — the search metric): each
    round is one Arrow-batched assignment pass + one partial-agg shuffle
    of per-centroid dimension sums. Deterministic (HALF_UP-rounded
    means), so oracles can replay the refinement exactly.

    ``seeds``: pre-fetched :func:`seed_vectors` rows (a prefix slice is
    fine) — saves the seed scan when the caller already paid for one.
    """
    if seeds is None:
        seeds = seed_vectors(corpus, id_col, vec_col, n_centroids)
    else:
        seeds = list(seeds[:n_centroids])
    return kmeans_refine(
        corpus, seeds, n_iters, vec_expr=vec_col, metric="cosine"
    )


def _round_half_up(x: float, decimals: int) -> float:
    """Engine-portable HALF_UP rounding (Spark ROUND / DuckDB round both
    round halves away from zero; Python's built-in ``round`` is banker's and
    would disagree at exact halves)."""
    import decimal

    q = decimal.Decimal(1).scaleb(-decimals)
    return float(
        decimal.Decimal(x).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def kmeans_refine(
    corpus: DataFrame,
    seeds: list[tuple[int, list[float]]],
    n_iters: int = 2,
    vec_expr: Column | str = "embedding",
    metric: str = "cosine",
    decimals: int = 6,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means refinement of seed centroids, the Spark-native way.

    Each round is (a) nearest-centroid assignment in one Arrow-batched
    pass (:func:`with_nearest_ids`) — zero shuffle at any corpus size —
    and (b) per-centroid means via ONE partial-aggregated shuffle:
    ``groupBy(cid).agg(count, sum(v[0]) .. sum(v[dim-1]))`` combines
    map-side, so only ``n_centroids x (dim+1)`` doubles per input
    partition cross the wire, never vectors. The n_centroids result rows
    collect to the driver and become the next round's centroids. A NULL
    or wrong-dim vector has no cell and counts into no centroid.

    Determinism contract: means are rounded HALF_UP to ``decimals`` places
    each round, so the refinement is reproducible to the digit in any
    engine (the DuckDB oracles replay it; double-sum ordering differences
    across engines vanish at 1e-6 granularity). Empty clusters keep their
    previous centroid. ``metric`` is ``cosine`` (IVF's search metric) or
    ``l2`` (classic k-means / PQ's code metric).

    Production note (reference parity): the reference library has no ANN
    index at all — this is the beyond-reference scale path, and with
    ``n_iters>0`` the docstring promise of "production would refine with
    k-means" is now the shipped behavior.
    """
    if not seeds or n_iters <= 0:
        return seeds
    dim = len(seeds[0][1])
    vec = F.col(vec_expr) if isinstance(vec_expr, str) else vec_expr
    base = corpus.select(vec.cast("array<double>").alias("__v"))
    cents = seeds
    # the per-dimension sums ride in ONE parsed expression: dim separate
    # F.sum(F.col("__v")[i]) Columns cost a py4j round trip each (~0.6 s
    # of pure driver time per round at dim=64) and re-enter analysis as
    # dim independent aggregate columns. array(sum(...), ...) is the same
    # dim aggregate functions (bit-identical per-sum folds) assembled
    # into one result array by a single driver call.
    sums_expr = F.expr(
        "array(" + ",".join(f"sum(__v[{i}])" for i in range(dim)) + ")"
    ).alias("__sums")
    # every Lloyd round scans the full vector set: cache the projection
    # once so rounds 2..n read cached columns instead of re-decoding parquet
    with cached(base) if n_iters > 1 else nullcontext(base) as base:
        for _ in range(n_iters):
            assigned = with_nearest_ids(
                base, F.col("__v"), cents, 1, "__cids", metric
            ).where(F.col("__cids").isNotNull()).withColumn(
                "__cid", F.col("__cids")[0])
            rows = (
                assigned
                .groupBy("__cid")
                .agg(F.count("*").alias("__n"), sums_expr)
                .collect()
            )
            by_cid = {r["__cid"]: r for r in rows}
            nxt = []
            for c, old in cents:
                r = by_cid.get(c)
                if r and r["__n"]:
                    nxt.append(
                        (c, [_round_half_up(s / r["__n"], decimals)
                             for s in r["__sums"]])
                    )
                else:
                    nxt.append((c, old))
            cents = nxt
    return cents


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 as a Spark left fold: from 0.0, one add per element, left
    to right — the order :func:`_fold_l2sq_np` replays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _fold_sq_np(D):
    """``sum_j D[..., j] * D[..., j]`` as the Spark left fold: from 0.0,
    one add per element of the last axis, left to right (NumPy's own
    reductions sum pairwise, which rounds differently)."""
    import numpy as np

    acc = np.zeros(D.shape[:-1], np.float64)
    for j in range(D.shape[-1]):
        acc = acc + D[..., j] * D[..., j]
    return acc


def _fold_l2sq_np(A, B):
    """Pairwise :func:`_l2sq` fold: ``(len(A), len(B))`` squared L2 between
    the rows of ``A`` and ``B``, accumulated like :func:`_fold_sq_np`."""
    import numpy as np

    acc = np.zeros((len(A), len(B)), np.float64)
    for j in range(A.shape[1]):
        d = A[:, j, None] - B[None, :, j]
        acc = acc + d * d
    return acc


def _centroid_matrix(centroids: list[tuple[int, list[float]]]):
    """``(cids, C)``: int64 ids ascending and the ``(k, dim)`` float64
    matrix in that order — the form :func:`_nearest_ids_np` takes, built
    once per closure rather than per batch."""
    import numpy as np

    ordered = sorted(centroids, key=lambda c: c[0])
    return (np.asarray([int(c) for c, _ in ordered], np.int64),
            np.asarray([v for _, v in ordered], np.float64))


def _cosine_np(V, C):
    """``(len(V), len(C))`` :func:`cosine` values: ``dot / (norm(v) *
    norm(c))`` with ``dot`` and ``norm`` as the Spark left folds, from 0.0
    one add per dimension. A zero-norm vector has no cosine and raises,
    as Spark's ANSI division does there."""
    import numpy as np

    dots = np.zeros((len(V), len(C)), np.float64)
    for j in range(V.shape[1]):
        dots = dots + V[:, j, None] * C[None, :, j]
    den = np.sqrt(_fold_sq_np(V))[:, None] * np.sqrt(_fold_sq_np(C))
    if not den.all():
        raise ZeroDivisionError("cosine of a zero-norm vector")
    return dots / den


# Up to this many centroids the scores are the Spark folds replayed
# element by element (bit-identical to ``cosine``/``_l2sq``). Above, the
# fold's k x dim Python-level adds per batch lose to one BLAS product
# (the FAISS assignment shape); BLAS sums in another order, so an exact
# tie between centroids could in principle break differently
# (measure-zero on real embeddings; the tie rule is still smallest-cid on
# exact float ties).
_HOF_CENTROID_MAX = 128


def _nearest_ids_np(V, cids, C, n: int, metric: str = "cosine"):
    """The ``n`` nearest centroids of each row of a ``(rows, dim)`` float64
    batch against :func:`_centroid_matrix` output: ``(rows, min(n, k))``
    int64 ids, cosine desc or squared-L2 asc, ties to the smaller id.

    Up to ``_HOF_CENTROID_MAX`` centroids the scores are the Spark folds
    replayed element by element (:func:`_cosine_np`,
    :func:`_fold_l2sq_np`), bit-identical to :func:`cosine` and
    :func:`_l2sq`. Above, BLAS scores. At every size a zero-norm vector or
    centroid has no cosine and raises, as :func:`_cosine_np` does."""
    import numpy as np

    if len(C) > _HOF_CENTROID_MAX:
        if metric == "cosine":
            cn = np.linalg.norm(C, axis=1)
            vn = np.linalg.norm(V, axis=1)
            if len(V) and not (cn.all() and vn.all()):
                raise ZeroDivisionError("cosine of a zero-norm vector")
            key = -((V / vn[:, None]) @ (C / cn[:, None]).T)
        else:
            key = (V * V).sum(1)[:, None] - 2.0 * (V @ C.T) + (C * C).sum(1)
    elif metric == "l2":
        key = _fold_l2sq_np(V, C)
    else:
        key = -_cosine_np(V, C)
    # stable sort over cid-ordered columns: exact ties -> smaller cid
    return cids[np.argsort(key, axis=1, kind="stable")[:, :n]]


def _pq_codes_np(X, codebooks):
    """PQ codes of a ``(rows, dim)`` float64 batch against a ``(n_sub,
    n_cent, d_sub)`` float64 codebook array: ``(rows, n_sub)`` int64.
    Per subspace the squared-L2 to each entry is the :func:`_l2sq` fold
    over the slice, and the code is the first minimum (ties to the
    smaller id)."""
    import numpy as np

    n_sub, _, d_sub = codebooks.shape
    codes = np.empty((len(X), n_sub), np.int64)
    for s in range(n_sub):
        codes[:, s] = _fold_l2sq_np(
            X[:, s * d_sub:(s + 1) * d_sub], codebooks[s]).argmin(1)
    return codes


def _valid_vectors(vecs, dim: int):
    """``(ok, V)`` for one batch's vector column, given as per-row arrays
    (None for NULL): ``ok`` marks the rows whose vector is non-NULL with
    ``dim`` entries and ``V`` stacks those as ``(ok.sum(), dim)`` float64.
    Every other row has no cell, code or distance: it gets NULL outputs
    (:func:`_vector_pass`) or is skipped (:func:`_adc_scan_topk_arrow`)."""
    import numpy as np

    ok = np.fromiter(
        (v is not None and len(v) == dim for v in vecs), bool, len(vecs))
    if not ok.any():
        return ok, np.empty((0, dim), np.float64)
    return ok, np.stack(vecs[ok].tolist()).astype(np.float64)


def _vector_pass(df: DataFrame, vec: Column, dim: int, fields, fn):
    """``df`` plus the columns ``fields`` (``[(name, Spark type)]``, each
    replacing a same-named column in place, as ``withColumn`` does),
    computed in ONE Arrow-batched pass: ``fn(V)`` maps a batch's valid
    ``vec`` values (:func:`_valid_vectors`) to one NumPy array per field,
    and every other row gets NULL. Whatever ``fn`` closes over (centroid
    matrix, codebooks) ships once inside the serialized task, so the plan
    holds no coordinate and its size is O(1) in the centroid count. The
    other columns pass through as the Arrow arrays Spark hands over, never
    converted (a pandas round trip would turn a nullable long into a
    double)."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    def null_fill(ok, M):
        # one entry per batch row: M's next row where ok, NULL elsewhere
        if M.ndim == 1:
            full = np.zeros(len(ok), M.dtype)
            full[ok] = M
            return pa.array(full, mask=~ok)
        offsets = np.zeros(len(ok) + 1, np.int32)
        np.cumsum(np.where(ok, M.shape[1], 0), out=offsets[1:])
        return pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(M.reshape(-1)), mask=pa.array(~ok))

    new = dict(fields)
    have = df.columns
    schema = T.StructType(
        [T.StructField(f.name, new[f.name]) if f.name in new else f
         for f in df.schema.fields]
        + [T.StructField(name, t) for name, t in fields if name not in have]
    )
    order = schema.fieldNames()

    def gen(batches):
        drop_zip_finders()
        for b in batches:
            ok, V = _valid_vectors(
                b.column("__vp").to_numpy(zero_copy_only=False), dim)
            outs = dict(zip(new, (null_fill(ok, M) for M in fn(V))))
            yield pa.RecordBatch.from_arrays(
                [outs[c] if c in outs else b.column(c) for c in order],
                names=order)

    return df.withColumn("__vp", vec.cast("array<double>")).mapInArrow(
        gen, schema)


def with_nearest_ids(
    df: DataFrame,
    vec: Column,
    centroids: list[tuple[int, list[float]]],
    n: int = 1,
    out: str = "__cids",
    metric: str = "cosine",
) -> DataFrame:
    """Add ``out`` = ``array<long>`` of the ``n`` nearest centroid ids to
    ``vec`` (cosine desc or squared-L2 asc; ties to the smaller id) — the
    assignment step of the whole ANN family.

    One Arrow-batched pass (:func:`_vector_pass`): each batch is one
    :func:`_nearest_ids_np` call, whose scores equal the Spark
    :func:`cosine` / :func:`_l2sq` folds bit for bit up to
    ``_HOF_CENTROID_MAX`` centroids and are one BLAS product above. The
    centroid matrix ships inside the task, not the plan. A NULL or
    wrong-dim vector gets a NULL id array.
    """
    from pyspark.sql import types as T

    cids, C = _centroid_matrix(centroids)
    return _vector_pass(
        df, vec, C.shape[1], [(out, T.ArrayType(T.LongType()))],
        lambda V: [_nearest_ids_np(V, cids, C, n, metric)])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: assign every corpus vector to its nearest
    centroid (the inverted file); each query probes only its ``n_probe``
    nearest centroids' lists and exact-reranks those candidates.
    ``n_iters`` Lloyd rounds refine the md5-seeded centroids first
    (:func:`kmeans_refine`) — tighter clusters, better recall at the same
    probe budget.

    Scan cost per query drops from |corpus| to ~|corpus| * n_probe /
    n_centroids. The probe lists explode to (query, centroid) rows so the
    candidate join is a plain equi-join on centroid id — hash-partitioned,
    broadcastable when the query set is small, and prunable at the storage
    layer if the corpus is written partitioned/bucketed by ``centroid_id``.
    """
    cents = ivf_centroids(corpus, id_col, vec_col, n_centroids, n_iters)
    c = with_nearest_ids(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).cast("array<double>").alias("__cv"),
        ),
        F.col("__cv"), cents, 1,
    ).select(
        "neighbor_id", "__cv", F.col("__cids")[0].alias("__cid")
    )
    q = with_nearest_ids(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("__qv"),
        ),
        F.col("__qv"), cents, n_probe,
    ).select(
        "query_id", "__qv", F.explode(F.col("__cids")).alias("__cid")
    )
    scored = (
        c.join(F.broadcast(q), on="__cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qv"), F.col("__cv")).alias("cos_sim"),
        )
    )
    return _per_query_topk(scored, k)


def _pq_refine_fused(
    corpus: DataFrame,
    books: list[list[list[float]]],
    n_iters: int,
    vec: Column,
    d_sub: int,
    decimals: int = 6,
) -> list[list[list[float]]]:
    """Lloyd refinement of ALL PQ subspace codebooks in ONE Spark job per
    iteration: one :func:`pq_encode` pass gives every row its
    per-subspace codes, each row explodes into ``n_sub`` (subspace, code,
    subvector) entries and a single ``groupBy(s, cid)`` partial-agg
    shuffle carries ``n_sub * n_centroids * (d_sub + 1)`` doubles per
    input partition. Per subspace this is :func:`kmeans_refine` with the
    ``l2`` metric (same first-minimum codes, same HALF_UP-rounded means)
    — the sequential form costs ``n_sub`` full corpus scans per iteration
    instead of one, which at small data is pure job-count overhead and at
    100 TB is ``n_sub`` extra reads of the entire vector column. Rows with
    a NULL or wrong-dim vector get a NULL code and count nowhere."""
    n_sub = len(books)
    base = corpus.select(vec.alias("__v"))
    with cached(base) if n_iters > 1 else nullcontext(base) as base:
        for _ in range(n_iters):
            entries = F.array(*[
                F.struct(
                    F.lit(s).alias("s"),
                    F.col("__code")[s].alias("cid"),
                    F.slice(F.col("__v"), s * d_sub + 1, d_sub).alias("sv"),
                )
                for s in range(n_sub)
            ])
            rows = (
                pq_encode(base, books, "__v", "__code")
                .where(F.col("__code").isNotNull())
                .select(F.explode(entries).alias("e"))
                .select(
                    F.col("e.s").alias("s"),
                    F.col("e.cid").alias("cid"),
                    F.col("e.sv").alias("sv"),
                )
                .groupBy("s", "cid")
                .agg(
                    F.count("*").alias("__n"),
                    # one parsed expression for all d_sub sums (the
                    # kmeans_refine py4j lesson); per-sum folds unchanged
                    F.expr(
                        "array("
                        + ",".join(f"sum(sv[{i}])" for i in range(d_sub))
                        + ")"
                    ).alias("__sums"),
                )
                .collect()
            )
            by = {(r["s"], r["cid"]): r for r in rows}
            for s in range(n_sub):
                nxt = []
                for cid, old in enumerate(books[s]):
                    r = by.get((s, cid))
                    if r and r["__n"]:
                        nxt.append(
                            [_round_half_up(sv / r["__n"], decimals)
                             for sv in r["__sums"]]
                        )
                    else:
                        nxt.append(old)
                books[s] = nxt
    return books


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = 4,
    n_centroids: int = 8,
    n_iters: int = 0,
    seeds: list[tuple[int, list[float]]] | None = None,
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebooks: ``codebooks[s][c]``
    starts as the subspace-``s`` slice of the ``c``-th seed vector (the
    ``n_centroids`` corpus vectors with the smallest md5(id), exactly the
    IVF seeding rule — reproducible in any engine, no RNG state).

    ``n_iters>0`` then refines EACH subspace codebook independently with
    that many Lloyd rounds over the corpus' subvector slices
    (squared-L2 assignment — the same metric ``pq_encode`` uses for code
    assignment). All subspaces refine in ONE job per round
    (:func:`_pq_refine_fused`): a single partial-agg shuffle of
    ``n_sub x n_centroids x (d_sub+1)`` doubles per input partition —
    the sequential per-subspace form would re-scan the corpus ``n_sub``
    times per round. The code layout is unchanged either way.

    ``seeds``: pre-fetched :func:`seed_vectors` (prefix slice fine).
    """
    if seeds is None:
        seeds = seed_vectors(corpus, id_col, vec_col, n_centroids)
    else:
        seeds = list(seeds[:n_centroids])
    dim = len(seeds[0][1])
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d_sub = dim // n_sub
    books = [
        [vec[s * d_sub:(s + 1) * d_sub] for _, vec in seeds]
        for s in range(n_sub)
    ]
    if n_iters > 0:
        books = _pq_refine_fused(
            corpus, books, n_iters, F.col(vec_col).cast("array<double>"),
            d_sub)
    return books


def _cb_literal(codebooks: list[list[list[float]]]) -> Column:
    """The codebooks as one literal nested-array expression (single
    parsed expression — one py4j call for the whole
    subspace x centroid x dim tensor)."""
    return F.expr(
        "array(" + ",".join(
            "array(" + ",".join(
                "array(" + ",".join(repr(float(x)) + "D" for x in cvec) + ")"
                for cvec in cb
            ) + ")"
            for cb in codebooks
        ) + ")"
    )


def with_ivf_residuals(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    cid_col: str = "centroid_id",
    residual_col: str = "residual",
) -> DataFrame:
    """Ingest-side IVF residual computation: add ``cid_col`` (nearest
    coarse centroid, cosine — the IVF assignment) and ``residual_col``
    (``v - centroid[cid]``) to every corpus row. This is what a 100 TB
    pipeline persists once so that residual-PQ search
    (:func:`ivfpq_topk` with ``residual=True``) never touches raw
    vectors in the scan phase. Cell and residual come from the same
    Arrow-batched pass (:func:`_vector_pass`, the cell as in
    :func:`with_nearest_ids`); one IEEE subtraction per element, so the
    residual equals Spark's ``a - b``. Zero shuffle. A NULL or wrong-dim
    vector gets a NULL cell and residual."""
    import numpy as np

    from pyspark.sql import types as T

    cids, C = _centroid_matrix(centroids)

    def cell_and_residual(V):
        cells = _nearest_ids_np(V, cids, C, 1)[:, 0]
        return [cells, V - C[np.searchsorted(cids, cells)]]

    return _vector_pass(
        corpus, F.col(vec_col), C.shape[1],
        [(cid_col, T.LongType()), (residual_col, T.ArrayType(T.DoubleType()))],
        cell_and_residual)


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Compress each vector to ``n_sub`` small ints — the 100 TB storage
    story: a 64-dim float vector (256 B) becomes 4-16 code bytes, and search
    runs against codes + codebooks without touching raw vectors. One
    Arrow-batched pass (:func:`_vector_pass`) of :func:`_pq_codes_np`: per
    subspace the entry with the smallest :func:`_l2sq` fold, ties to the
    smaller id; the codebooks ship inside the task, not the plan. A NULL
    or wrong-dim vector gets a NULL code."""
    import numpy as np

    from pyspark.sql import types as T

    cb = np.asarray(codebooks, np.float64)  # (n_sub, n_cent, d_sub)
    return _vector_pass(
        corpus, F.col(vec_col), cb.shape[0] * cb.shape[2],
        [(code_col, T.ArrayType(T.IntegerType()))],
        lambda V: [_pq_codes_np(V, cb).astype(np.int32)])


def pq_decode(
    codes: Column, codebooks: list[list[list[float]]]
) -> Column:
    """Reconstruction vector from PQ codes: concatenate each subspace's
    selected centroid. Codebook is a plan-literal nested array; the lookup
    is ``element_at`` per subspace — per-row, JVM-side."""
    cb_lit = _cb_literal(codebooks)
    n_sub = len(codebooks)
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_sub - 1)),
            lambda s: F.element_at(
                F.element_at(cb_lit, (s + 1).cast("int")),
                (F.element_at(codes, (s + 1).cast("int")) + 1).cast("int"),
            ),
        )
    )


def _lut_numpy(qv, codebooks: list[list[list[float]]]):
    """ADC lookup table for ONE query vector as a ``(n_sub, n_centroids)``
    float64 array: ``lut[s][c]`` = squared L2 between the query's
    subspace-``s`` slice and codebook entry ``c`` — the standard PQ
    asymmetric-distance table (Jégou et al. 2011 §III-B, FAISS's LUT
    scan). Built once per query (queries are the small side by contract),
    so scoring a candidate is ``n_sub`` lookups instead of an O(dim)
    reconstruction distance. Accumulates ``(q_j - c_j)^2`` per subspace
    dimension left to right from 0.0 (one add per dimension, the
    :func:`_l2sq` fold order), which is the order the unrolled DuckDB
    oracles replay bit for bit.
    """
    import numpy as np

    n_sub = len(codebooks)
    d_sub = len(codebooks[0][0])
    q = np.asarray(qv, np.float64)
    cb = np.asarray(codebooks, np.float64)  # (n_sub, n_cent, d_sub)
    lut = np.zeros((n_sub, cb.shape[1]), np.float64)
    for s in range(n_sub):
        acc = np.zeros(cb.shape[1], np.float64)
        base = s * d_sub
        for j in range(d_sub):
            d = q[base + j] - cb[s, :, j]
            acc = acc + d * d
        lut[s] = acc
    return lut


def _probe_lut_entries(rows, cents, cbs, residual: bool):
    """ADC scan entries ``(query_id, cid, lut)``, one per (query, probed
    cell), from ``(query_id, __qv, __cids)`` rows (:func:`_probe_rows`).
    Residual codes get a LUT over ``q - centroid[cid]`` per cell; raw
    codes share one query LUT across its cells. Queries with no probed
    cell score nothing."""
    import numpy as np

    centd = {cid: np.asarray(cv, np.float64) for cid, cv in cents}
    entries = []
    for r in rows:
        if not r["__cids"]:
            continue
        if residual:
            qvn = np.asarray(r["__qv"], np.float64)
            for cid in r["__cids"]:
                entries.append(
                    (r["query_id"], cid, _lut_numpy(qvn - centd[cid], cbs)))
        else:
            lut = _lut_numpy(r["__qv"], cbs)
            entries.extend((r["query_id"], cid, lut) for cid in r["__cids"])
    return entries


def _query_vectors(queries: DataFrame, id_col: str, vec_col: str):
    """The (small-by-contract) query side on the driver, collected once:
    ``[(query_id, vector)]`` with the vector as float64 NumPy (None for a
    NULL vector), plus the query id's Spark type."""
    import numpy as np

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    rows = [
        (r["query_id"],
         None if r["__qv"] is None else np.asarray(r["__qv"], np.float64))
        for r in q.collect()
    ]
    return rows, q.schema["query_id"].dataType


def _probe_rows(qrows, cents: list[tuple[int, list[float]]], n_probe: int):
    """``(query_id, __qv, __cids)`` rows for :func:`_probe_lut_entries`:
    each query's ``n_probe`` nearest cells by cosine, computed on the
    driver with :func:`_nearest_ids_np` (the :func:`with_nearest_ids`
    ids). A NULL or wrong-dim query vector probes no cell."""
    import numpy as np

    cids, C = _centroid_matrix(cents)
    ok = [(q, v) for q, v in qrows if v is not None and len(v) == C.shape[1]]
    if not ok:
        return []
    cells = _nearest_ids_np(np.stack([v for _, v in ok]), cids, C, n_probe)
    return [{"query_id": q, "__qv": v, "__cids": c.tolist()}
            for (q, v), c in zip(ok, cells)]


def _adc_scan_topk_arrow(
    df: DataFrame,
    entries: list[tuple[object, int | None, "object"]],
    per_q: int,
    id_col: str = "neighbor_id",
    code_col: str = "pq_code",
    cell_col: str | None = None,
    qid_type=None,
    vec_col: str | None = None,
    codebooks: list[list[list[float]]] | None = None,
    cents: list[tuple[int, list[float]]] | None = None,
    residual: bool = False,
    qvecs: dict | None = None,
) -> DataFrame:
    """Arrow-batched ADC candidate scan: NumPy gather-adds over PQ codes
    against driver-shipped per-query LUTs, keeping only each batch's
    top-``per_q`` candidates per (query, cell).

    ``entries`` is the (small-by-contract) query side, collected on the
    driver: ``(query_id, cell_or_None, lut)`` with ``lut`` from
    :func:`_lut_numpy`. In by-cell mode a query scores only the batch
    rows in its probed cells (the IVFPQ shape — the probe join is a
    closure lookup); otherwise every query scores every row (the flat PQ
    shape — no crossJoin).

    Two input shapes, one pass:

    * stored codes — ``df`` carries (``id_col``, ``code_col``[,
      ``cell_col``]), e.g. an IVF-PQ store; the scan reads no vector.
    * inline — ``vec_col`` names the raw vector column. Each batch
      computes its coarse cell (when ``cents`` is given, cosine via
      :func:`_nearest_ids_np`) and its PQ code (:func:`_pq_codes_np`
      over ``codebooks``, of ``v - centroid[cell]`` when ``residual``),
      then scores as above, then the exact squared L2 of each survivor
      against its query's raw vector (``qvecs[query_id]``, the
      :func:`_l2sq` fold) from the vector it already holds. The output
      gains ``exact`` = -squared L2, so the re-rank needs no join back
      to the corpus and no second scan of it.

    Per pair the subspace terms accumulate left-to-right from 0.0
    (``sum_s lut[s][code[s]]``, subspace-major) — the order the DuckDB
    oracles replay. Candidate selection replays
    :func:`_per_query_topk`'s total order (distance asc, id asc), and
    per-batch truncation is tournament-exact: the global top-``per_q``
    is invariant as long as every batch keeps ``per_q`` survivors.

    Rows with a NULL (or wrong-dim) vector, a NULL code or, with
    ``cell_col``, a NULL cell are skipped: they have no distance and
    belong to no probed cell.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    inline = vec_col is not None
    nid_type = df.schema[id_col].dataType
    schema = T.StructType([
        T.StructField("query_id", qid_type or nid_type),
        T.StructField("neighbor_id", nid_type),
        T.StructField("cos_sim", T.DoubleType()),
    ] + ([T.StructField("exact", T.DoubleType())] if inline else []))
    if not entries:
        return df.sparkSession.createDataFrame([], schema)
    luts = np.stack([lut for _, _, lut in entries])
    qids = np.empty(len(entries), object)  # any id type, fancy-indexable
    for i, (qid, _, _) in enumerate(entries):
        qids[i] = qid
    n_sub = luts.shape[1]
    by_cell = cell_col is not None or cents is not None
    if by_cell:
        cell_entries: dict[int, list[int]] = {}
        for i, (_, cell, _) in enumerate(entries):
            cell_entries.setdefault(int(cell), []).append(i)
        cell_idx = {c: np.asarray(v, np.int64)
                    for c, v in cell_entries.items()}
    if inline:
        cb = np.asarray(codebooks, np.float64)  # (n_sub, n_cent, d_sub)
        dim = cb.shape[0] * cb.shape[2]
        qmat = np.stack([qvecs[qid] for qid in qids])  # per entry
        if cents is not None:
            cids, cmat = _centroid_matrix(cents)
        cols = [id_col, vec_col]
    else:
        cols = [id_col, code_col] + ([cell_col] if by_cell else [])

    def rows_of(pdf):
        """(ids, codes, cells, vectors) of the batch's scorable rows."""
        if not inline:
            ok = pdf[code_col].notna()
            if by_cell:
                ok &= pdf[cell_col].notna()
            pdf = pdf[ok]
            codes = np.asarray(
                [np.asarray(c, np.int64) for c in pdf[code_col]])
            cells = pdf[cell_col].to_numpy() if by_cell else None
            return pdf[id_col].to_numpy(), codes, cells, None
        ok, V = _valid_vectors(pdf[vec_col], dim)
        if not len(V):
            return pdf[id_col].to_numpy()[:0], None, None, None
        cells = None
        X = V
        if cents is not None:
            cells = _nearest_ids_np(V, cids, cmat, 1)[:, 0]
            if residual:
                X = V - cmat[np.searchsorted(cids, cells)]
        return pdf[id_col].to_numpy()[ok], _pq_codes_np(X, cb), cells, V

    def gen(batches):
        drop_zip_finders()
        for pdf in batches:
            if not len(pdf):
                continue
            ids, codes, cells, V = rows_of(pdf)
            if not len(ids):
                continue
            out_e, out_r, out_s = [], [], []

            def block(es, rows):
                sub = codes[rows]
                d = np.zeros((len(es), len(rows)), np.float64)
                ls = luts[es]
                for s in range(n_sub):
                    d += ls[:, s][:, sub[:, s]]
                rid = ids[rows]
                order_id = np.argsort(rid, kind="stable")
                for ei, e in enumerate(es):
                    sel = order_id[np.argsort(d[ei][order_id],
                                              kind="stable")]
                    sel = sel[rid[sel] != qids[e]][:per_q]
                    out_e.append(np.full(len(sel), e, np.int64))
                    out_r.append(rows[sel])
                    out_s.append(-d[ei][sel])

            if by_cell:
                for c in np.unique(cells):
                    es = cell_idx.get(int(c))
                    if es is not None:
                        block(es, np.nonzero(cells == c)[0])
            else:
                block(np.arange(len(entries)), np.arange(len(ids)))
            if not out_e:
                continue
            e = np.concatenate(out_e)
            r = np.concatenate(out_r)
            out = {"query_id": qids[e], "neighbor_id": ids[r],
                   "cos_sim": np.concatenate(out_s)}
            if inline:
                out["exact"] = -_fold_sq_np(qmat[e] - V[r])
            yield pd.DataFrame(out)

    return df.select(*cols).mapInPandas(gen, schema=schema)


def pq_adc_scores(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs ADC distances between encoded corpus rows and query
    vectors — the scan phase of :func:`pq_topk` exposed on its own (no
    top-k truncation), for ADC-quality evaluation and as the bench /
    oracle measurement surface. Output ``(query_id, neighbor_id,
    adc_dist)`` over every (query, code row) pair; rows with a NULL code
    are skipped.

    Scores run as NumPy Arrow batches against per-query lookup tables
    (:func:`_lut_numpy`, Jégou 2011 ADC — n_sub lookups per pair), summed
    subspace-major left to right from 0.0, the same doubles
    :func:`_adc_scan_topk_arrow` ranks by.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    codes = codes_df.select(
        F.col(id_col).alias("neighbor_id"), "pq_code")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    qrows = q.collect()
    schema = T.StructType([
        T.StructField("query_id", q.schema["query_id"].dataType),
        T.StructField("neighbor_id", codes.schema["neighbor_id"].dataType),
        T.StructField("adc_dist", T.DoubleType()),
    ])
    luts = np.stack([_lut_numpy(r["__qv"], codebooks) for r in qrows])
    n_sub = luts.shape[1]
    qids = [r["query_id"] for r in qrows]

    def gen(batches):
        drop_zip_finders()
        for pdf in batches:
            pdf = pdf[pdf["pq_code"].notna()]
            if not len(pdf):
                continue
            c = np.asarray(
                [np.asarray(x, np.int64) for x in pdf["pq_code"]])
            d = np.zeros((len(qids), len(pdf)), np.float64)
            for s in range(n_sub):
                d += luts[:, s][:, c[:, s]]
            yield pd.DataFrame({
                "query_id": np.repeat(qids, len(pdf)),
                "neighbor_id": np.tile(pdf["neighbor_id"].to_numpy(),
                                       len(qids)),
                "adc_dist": d.reshape(-1),
            })

    return codes.mapInPandas(gen, schema=schema)


def _exact_rerank_topk(
    cand: DataFrame,
    vectors: DataFrame,
    qv: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact squared-L2 re-rank of ADC ``(query_id, neighbor_id)``
    candidates: join each candidate's raw vector from ``vectors`` and the
    query's ``__qv`` from ``qv``, keep the ``k`` nearest per query.
    Output ``(query_id, neighbor_id, rank)``."""
    exact = (
        cand.join(
            vectors.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).cast("array<double>").alias("__cv"),
            ),
            on="neighbor_id",
        )
        .join(F.broadcast(qv), on="query_id")
        .select(
            "query_id",
            "neighbor_id",
            (-_l2sq(F.col("__qv"), F.col("__cv"))).alias("cos_sim"),
        )
    )
    return _per_query_topk(exact, k).select("query_id", "neighbor_id", "rank")


def _rank_exact(cand: DataFrame, k: int) -> DataFrame:
    """Rank an inline scan's surviving ``(query_id, neighbor_id, exact)``
    rows by exact distance (``exact`` = -squared L2, desc; ties to the
    smaller id) and keep ``k`` per query. The window partitions by
    ``query_id`` like the tournament's last stage, so it adds a sort and
    no shuffle. Output ``(query_id, neighbor_id, rank)``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("exact").desc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_sub: int = 4,
    n_centroids: int = 8,
    refine: int = 4,
    partial_buckets: int | None = None,
    n_iters: int = 0,
) -> DataFrame:
    """PQ approximate top-k with exact re-rank (asymmetric distance via
    per-query LUTs): each query precomputes the ``n_sub x n_centroids``
    table of subspace squared-L2s once on the driver (:func:`_lut_numpy`
    — Jégou et al. 2011 §III-B, FAISS's ADC scan), so scoring a candidate
    is ``n_sub`` lookups + adds over its code.

    One Arrow pass over the corpus (:func:`_adc_scan_topk_arrow`, inline
    shape) encodes each batch (:func:`_pq_codes_np`, the :func:`pq_encode`
    codes), ADC-scores it, keeps each batch's ``refine * k`` best per
    query and computes their exact squared L2 from the vectors the batch
    already holds. The tournament (:func:`_per_query_topk`) keeps the
    global ``refine * k`` by ADC, and one more ``row_number`` over the
    same ``query_id`` partitioning keeps the ``k`` nearest exactly
    (:func:`_rank_exact`): the corpus is read once, with no join back to
    it. Output (query_id, neighbor_id, rank) by ascending exact
    squared-L2. NULL vectors, on either side, are never scored.

    A corpus that stores ``pq_code`` at ingest (:func:`pq_encode`) is
    searched the same way from its codes (``sources.ivf_store``), reading
    ~n_sub bytes/row instead of the vector until the re-rank.
    """
    cbs = pq_codebooks(corpus, id_col, vec_col, n_sub, n_centroids, n_iters)
    dim = n_sub * len(cbs[0][0])
    qrows, qid_type = _query_vectors(queries, id_col, vec_col)
    qrows = [(q, v) for q, v in qrows if v is not None and len(v) == dim]
    scan = _adc_scan_topk_arrow(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__v")),
        [(q, None, _lut_numpy(v, cbs)) for q, v in qrows], refine * k,
        qid_type=qid_type, vec_col="__v", codebooks=cbs, qvecs=dict(qrows),
    )
    return _rank_exact(_per_query_topk(scan, refine * k, partial_buckets), k)


def srp_probe_buckets(
    vec: Column,
    num_planes: int = 8,
    multi_probe: int = 0,
    dim: int | None = None,
    plane_offset: int = 0,
) -> Column:
    """``array<long>`` of SRP buckets to probe for a QUERY vector: its own
    bucket plus the ``multi_probe`` Hamming-distance-1 neighbors whose
    plane margins are smallest — the standard multi-probe LSH trick: the
    planes the vector barely cleared are the ones a true neighbor most
    likely landed on the other side of. All plan-literal arithmetic (the
    same md5-derived planes as :func:`srp_bucket`), per-row, zero shuffle;
    the CORPUS side keeps exactly one ingest-precomputable bucket per
    table, so multi-probe buys recall without touching the index layout.
    """
    n_dims = dim or 256
    dots = []
    for p in range(num_planes):
        plane = _plane_literal(plane_offset + p, n_dims)
        dots.append(
            F.aggregate(
                F.zip_with(vec, F.slice(plane, 1, F.size(vec)),
                           lambda v, c: v.cast("double") * c),
                F.lit(0.0).cast("double"),
                lambda acc, v: acc + v,
            )
        )
    bucket = None
    for p, d in enumerate(dots):
        bit = F.when(d > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bit if bucket is None else bucket + bit
    if multi_probe <= 0:
        return F.array(bucket)
    flips = F.array(
        *[
            F.struct(
                F.abs(dots[p]).alias("m"),
                bucket.bitwiseXOR(F.lit(1 << p).cast("long")).alias("b"),
            )
            for p in range(num_planes)
        ]
    )
    probed = F.transform(
        F.slice(F.array_sort(flips), 1, min(multi_probe, num_planes)),
        lambda s: s["b"],
    )
    return F.concat(F.array(bucket), probed)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_planes: int = 8,
    num_tables: int = 1,
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: SRP bucket equi-join then exact cosine re-rank.

    Recall improves with fewer planes (bigger buckets), more hash tables
    (``num_tables`` disjoint plane sets — a candidate only needs to collide
    in ONE), or ``multi_probe`` (each query additionally probes that many
    smallest-margin bit-flip buckets per table — table-free recall, see
    :func:`srp_probe_buckets`). The corpus bucket columns are
    precomputable ingest-side keys — at scale, write them at ingest and
    bucket/partition the table by them so queries touch only matching
    buckets (partition pruning instead of a full scan).
    """

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        F.posexplode(
            _srp_tables_expr(quote(vec_col), num_planes, num_tables)
        ).alias("__tbl", "__bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.posexplode(
            F.expr("array(" + ",".join(
                _srp_probe_sql(quote(vec_col), num_planes, multi_probe,
                               256, t * num_planes)
                for t in range(num_tables)
            ) + ")")
        ).alias("__tbl", "__probes"),
    ).select(
        "query_id", "__qv", "__tbl", F.explode("__probes").alias("__bucket")
    )
    scored = c.join(F.broadcast(q), on=["__tbl", "__bucket"]).where(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        cosine(
            F.col("__qv").cast("array<double>"), F.col("__cv").cast("array<double>")
        ).alias("cos_sim"),
    )
    # the same pair can collide in several tables; identical score → distinct
    scored = scored.distinct()
    return _per_query_topk(scored, k)


def knn_join(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 8,
    num_tables: int = 2,
) -> DataFrame:
    """Self similarity join: approximate top-k neighbors for EVERY corpus
    vector — the all-rows k-NN behind near-dup graph building and
    SemDeDup-style mining, where :func:`lsh_topk`'s broadcast-the-queries
    shape no longer applies because the query side IS the corpus.

    Same SRP bucket scheme as :func:`lsh_topk`; candidates are pairs
    sharing a (table, bucket) key, matched by a plain shuffle equi-join
    (both sides hash-partition on the bucket key — no broadcast), then
    exact cosine reranks and ranks 1..k per vector survive.

    Scale shape: cost is the sum of per-bucket sizes squared, summed over
    tables — ``num_planes`` controls bucket granularity (more planes →
    smaller buckets → cheaper join, lower recall; add tables to buy
    recall back). AQE splits skewed mega-buckets. Never all-pairs: the
    plan must contain no CartesianProduct (plan-audited). Like
    :func:`hard_negatives`, the bucket self-join and the collision dedup
    shuffle only (id, table, bucket) — embeddings never ride the
    ``num_tables``-way bucket explosion; they are fetched once, by
    id-keyed joins, for the (much smaller) deduped pair set, and each
    surviving pair's cosine is evaluated exactly once instead of once
    per colliding table (round 10, guide-§8 decide-small/move-big).

    Returns ``(query_id, neighbor_id, cos_sim, rank)`` with rank 1..k.
    """
    buckets = _srp_tables_expr(quote(vec_col), num_planes, num_tables)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode(buckets).alias("__tbl", "__bucket"),
    )
    q = corpus.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(buckets).alias("__tbl", "__bucket"),
    )
    cand = (
        q.join(c, on=["__tbl", "__bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()  # a pair can collide in several tables
    )
    qv = corpus.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    scored = (
        cand.join(qv, on="query_id")
        .join(cv, on="neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(
                F.col("__qv").cast("array<double>"),
                F.col("__cv").cast("array<double>"),
            ).alias("cos_sim"),
        )
    )
    return _per_query_topk(scored, k)


def hard_negatives(
    corpus: DataFrame,
    label_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_sim: float | None = None,
    num_planes: int = 8,
    num_tables: int = 2,
) -> DataFrame:
    """Hard-negative mining for contrastive / retrieval training (the DPR
    / SimCSE recipe): for EVERY corpus vector, the ``k`` most-similar
    vectors carrying a DIFFERENT ``label_col`` value.  ``max_sim`` caps
    the similarity of an admissible negative — the standard false-negative
    guard (a cross-label neighbor at cosine ~1.0 is almost certainly a
    mislabeled positive; dropping the top of the range keeps negatives
    hard but true).

    Same scale shape as :func:`knn_join` (this is its cross-label
    restriction): SRP bucket self-join on (table, bucket) — never
    all-pairs, never broadcast of the corpus — exact cosine on candidates
    only, tournament top-k.  Rows whose label is NULL produce no anchors
    and serve as no one's negative (their label is unknowable).

    Returns ``(query_id, query_label, neighbor_id, neighbor_label,
    cos_sim, rank)`` with rank 1..k.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if max_sim is not None and not (-1.0 <= max_sim <= 1.0):
        raise ValueError("max_sim must be within [-1, 1]")

    buckets = _srp_tables_expr(quote(vec_col), num_planes, num_tables)
    labeled = corpus.where(F.col(label_col).isNotNull())
    c = labeled.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.posexplode(buckets).alias("__tbl", "__bucket"),
    )
    q = labeled.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.posexplode(buckets).alias("__tbl", "__bucket"),
    )
    # dedup BEFORE scoring: a pair can collide in several LSH tables, so
    # distinct-ing first means (a) each surviving pair's cosine is
    # evaluated exactly once instead of once per collision, (b) the
    # distinct shuffle carries four small key columns — no vectors and no
    # double, so float-representation dedup surprises are impossible by
    # construction — and (c) the bucket self-join above shuffles only
    # (id, label, table, bucket), never an embedding. Vectors are fetched
    # by id-keyed joins on the (much smaller) deduped pair set.
    cand = (
        q.join(c, on=["__tbl", "__bucket"])
        .where(F.col("query_label") != F.col("neighbor_label"))
        .select("query_id", "query_label", "neighbor_id", "neighbor_label")
        .distinct()
    )
    qv = labeled.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    cv = labeled.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    scored = (
        cand.join(qv, on="query_id")
        .join(cv, on="neighbor_id")
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            cosine(
                F.col("__qv").cast("array<double>"),
                F.col("__cv").cast("array<double>"),
            ).alias("cos_sim"),
        )
    )
    if max_sim is not None:
        scored = scored.where(F.col("cos_sim") <= F.lit(float(max_sim)))
    return _per_query_topk(scored, k)


# -- int8 quantization -------------------------------------------------------


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    code_col: str | None = None,
    scale_col: str | None = None,
    keep_vec: bool = False,
) -> DataFrame:
    """Symmetric per-row int8 quantization of an embedding column.

    ``scale = max(|x|) / 127``; ``code_i = floor(x_i / scale + 0.5)`` in
    [-127, 127], stored as ``array<tinyint>`` (``{vec}_q``) plus one double
    ``{vec}_scale`` per row. An all-zero vector gets scale 0 and all-zero
    codes. The float vector is dropped unless ``keep_vec=True``.

    Why it matters at 100 TB: an ANN corpus of float32[768] is ~3 KB/row;
    int8 codes + one scale are ~770 B — a 4x shrink of the dominant column,
    which is the difference between an in-memory scan and a spilling one.
    Cosine is scale-invariant, so ranking on raw codes needs no dequantize
    (:func:`quantized_topk`); reconstruction ``code * scale`` is within
    ``scale/2`` per component.

    Everything is built-in HOF arithmetic (one projection, zero shuffle,
    no UDF; the HOF lambdas run interpreted) and IEEE-double deterministic, so a SQL oracle
    reproduces codes bit-for-bit.
    """
    code_col = code_col or f"{vec_col}_q"
    scale_col = scale_col or f"{vec_col}_scale"
    v = quote(vec_col)
    scale = (
        f"array_max(transform({v}, __x -> abs(CAST(__x AS DOUBLE)))) / 127.0D"
    )
    out = df.withColumn(scale_col, F.expr(scale))
    qs = quote(scale_col)
    code = (
        f"transform({v}, __x -> CAST(CASE WHEN {qs} = 0.0D THEN 0 ELSE "
        f"floor(CAST(__x AS DOUBLE) / {qs} + 0.5D) END AS TINYINT))"
    )
    out = out.withColumn(code_col, F.expr(code))
    return out if keep_vec else out.drop(vec_col)


def dequantize_embeddings(
    df: DataFrame,
    code_col: str = "embedding_q",
    scale_col: str = "embedding_scale",
    out: str = "embedding",
) -> DataFrame:
    """Reconstruct ``array<double>`` vectors as ``code * scale``."""
    expr = (
        f"transform({quote(code_col)}, __c -> CAST(__c AS DOUBLE) * "
        f"{quote(scale_col)})"
    )
    return df.withColumn(out, F.expr(expr))


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    code_col: str = "embedding_q",
    k: int = 10,
    partial_buckets: int | None = None,
) -> DataFrame:
    """Cosine top-k directly on int8 codes — no dequantization.

    Cosine is invariant under the per-row positive scale, so ranking on raw
    codes equals ranking on the reconstructed vectors. The dot product and
    squared norms are EXACT int64 sums (|code| <= 127 => a 100k-dim dot
    stays far below 2^63); only the final ``dot / sqrt(na*nb)`` touches
    floating point. Same broadcast + tournament shape as
    :func:`brute_force_topk`, but the scanned corpus column is ~4x smaller.
    """
    def int_dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(code_col).alias("__qc")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(code_col).alias("__cc"))
    scored = c.crossJoin(F.broadcast(q)).where(
        F.col("query_id") != F.col("neighbor_id")
    ).select(
        "query_id",
        "neighbor_id",
        (
            int_dot(F.col("__qc"), F.col("__cc"))
            / (
                F.sqrt(int_dot(F.col("__qc"), F.col("__qc")).cast("double"))
                * F.sqrt(int_dot(F.col("__cc"), F.col("__cc")).cast("double"))
            )
        ).alias("cos_sim"),
    )
    return _per_query_topk(scored, k, partial_buckets)


def random_projection(
    df: DataFrame,
    out_dim: int,
    vec_col: str = "embedding",
    out: str = "projected",
    dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction with a deterministic
    ±1 projection matrix: ``out[j] = sum_i R[j][i] * v[i] / sqrt(out_dim)``
    where ``R[j][i]`` is the same md5-parity sign the SRP bucketing uses
    (:func:`plane_component`), so results are reproducible anywhere and a
    SQL oracle replays them bit-for-bit.

    The sparse-free ±1 scheme (Achlioptas 2003) preserves pairwise
    distances within the JL bound while needing no stored matrix — each
    entry regenerates from (row, col). The matrix rides along as ONE
    broadcast single-row frame (array<array<double>>), NOT as an
    out_dim x dim expression tree: a literal-per-entry plan (~50k Column
    ops for 768->64) inflates analysis time and overflows the JVM's 64KB
    codegen method limit, silently falling back to interpreted
    evaluation. The projection itself is one nested
    ``transform``/``zip_with``/``aggregate`` expression — O(1) plan
    nodes, zero shuffle (its lambdas run interpreted). Use before :func:`brute_force_topk` /
    :func:`quantize_embeddings` to cut the dominant column's bytes by
    ``dim/out_dim``.

    ``dim`` (input dimension) is read from the first row when omitted —
    pass it at scale to keep the call action-free.
    """
    if out_dim < 1:
        raise ValueError("out_dim must be >= 1")
    if dim is None:
        row = df.select(F.size(F.col(vec_col)).alias("n")).first()
        if row is None or row["n"] is None:
            raise ValueError("cannot infer dim from an empty DataFrame; pass dim=")
        dim = row["n"]
    import math

    from pyspark.sql import types as T

    v = F.col(vec_col).cast("array<double>")
    # math.sqrt, not **0.5: correctly-rounded sqrt matches SQL sqrt() exactly
    scale = math.sqrt(float(out_dim))
    matrix = [
        [plane_component(j, i) for i in range(dim)] for j in range(out_dim)
    ]
    mat = df.sparkSession.createDataFrame(
        [(matrix,)],
        T.StructType([
            T.StructField(
                "__jl_R", T.ArrayType(T.ArrayType(T.DoubleType()))
            )
        ]),
    )
    # fold order matches the old literal chain exactly (0.0 + x0 == x0 and
    # x * ±1.0 is exact), so results are bit-identical to the oracle replay
    proj = F.transform(
        F.col("__jl_R"),
        lambda srow: F.aggregate(
            F.zip_with(v, srow, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.lit(scale),
    )
    return df.crossJoin(F.broadcast(mat)).withColumn(out, proj).drop("__jl_R")


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    id_col: str = "neighbor_id",
) -> DataFrame:
    """ANN quality evaluation: per-query recall of an approximate top-k
    result against an exact baseline (e.g. :func:`lsh_topk` / 
    :func:`ivf_topk` vs :func:`brute_force_topk` on a query sample).

    Returns ``(query_col, n_exact, n_hit, recall)`` with
    ``recall = |approx ∩ exact| / |exact|`` per query. This is how
    ``n_probe`` / ``bands`` / ``n_centroids`` get tuned at scale: run the
    exact baseline on a small query sample, sweep the ANN knob, keep the
    cheapest setting above the recall target.

    One hash join on (query, neighbor) + one partial-agg shuffle of
    id pairs — never vectors; queries with an empty approximate result
    still report (their recall is 0).
    """
    e = exact.select(F.col(query_col), F.col(id_col)).distinct()
    a = (
        approx.select(F.col(query_col), F.col(id_col))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        e.join(a, on=[query_col, id_col], how="left")
        .groupBy(query_col)
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
        .withColumn(
            "recall",
            F.col("n_hit").cast("double") / F.col("n_exact"),
        )
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_vec_col: str | None = None,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus row
    whose embedding has cosine similarity >= ``threshold`` to ANY
    benchmark embedding — the semantic companion to the n-gram
    :func:`~nested_pandas_spark.pipeline.corpus.decontaminate` (catches
    paraphrased/translated eval leakage that shares no n-grams).

    Returns the corpus ids plus ``max_bench_sim`` (highest cosine against
    the benchmark; NULL when the corpus vector is NULL or the benchmark
    is empty) and ``contaminated`` (boolean; false when NULL sim).

    Scale shape: evaluation benchmarks are small (10^3-10^5 vectors), so
    the benchmark collapses into ONE broadcast single-row frame of
    pre-normalized vectors; the corpus-side max-cosine is then a per-row
    HOF reduction over that array — zero shuffle, no join on the corpus
    side, one corpus scan. For benchmarks too big to broadcast, run
    :func:`lsh_bucket_join` / :func:`brute_force_topk` instead.
    """
    if not (0.0 < float(threshold) <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold!r}")
    bvec = bench_vec_col or vec_col
    # zero-norm vectors are dropped (bench) / yield NULL sim (corpus): a
    # single NaN-normalized benchmark vector would otherwise poison EVERY
    # corpus row's array_max
    bench_arr = (
        benchmark.where(F.col(bvec).isNotNull())
        .withColumn(
            "__bn",
            F.sqrt(F.aggregate(F.col(bvec).cast("array<double>"),
                               F.lit(0.0), lambda a, x: a + x * x)),
        )
        .where(F.col("__bn") > 0)
        .agg(
            F.collect_list(
                F.transform(F.col(bvec).cast("array<double>"),
                            lambda v: v / F.col("__bn"))
            ).alias("__bench")
        )
    )
    sim = (
        "CASE WHEN __v IS NOT NULL AND size(__bench) > 0 THEN "
        "array_max(transform(__bench, __b -> "
        "aggregate(zip_with(__v, __b, (__x, __y) -> __x * __y), 0.0D, "
        "(__a, __p) -> __a + __p))) END"
    )
    # stage the norm ONCE per row — normalizing inside the transform would
    # recompute the O(d) reduction per element (O(d^2) per corpus row)
    staged = (
        corpus.crossJoin(F.broadcast(bench_arr))
        .withColumn(
            "__nrm",
            F.expr(
                f"sqrt(aggregate(CAST({quote(vec_col)} AS array<double>), "
                f"0.0D, (__a, __y) -> __a + __y * __y))"
            ),
        )
        .withColumn(
            "__v",
            F.expr(
                f"CASE WHEN {quote(vec_col)} IS NOT NULL AND __nrm > 0.0D "
                f"THEN transform(CAST({quote(vec_col)} AS array<double>), "
                f"__x -> __x / __nrm) END"
            ),
        )
        .withColumn("max_bench_sim", F.expr(sim))
    )
    return staged.select(
        F.col(id_col),
        "max_bench_sim",
        F.coalesce(
            F.col("max_bench_sim") >= F.lit(float(threshold)), F.lit(False)
        ).alias("contaminated"),
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_sub: int = 4,
    pq_centroids: int = 8,
    refine: int = 4,
    n_iters: int = 0,
    pq_iters: int = 0,
    residual: bool = False,
) -> DataFrame:
    """IVF + PQ composed ANN — the standard billion-scale index shape
    (FAISS ``IVFx,PQy``; Jégou et al. 2011): the inverted file prunes
    WHICH rows are scored (each query scores ~n_probe/n_centroids of the
    corpus) and product quantization makes each score ``n_sub`` LUT
    lookups. The ``refine * k`` ADC survivors per query are re-ranked
    exactly. Output (query_id, neighbor_id, rank) by ascending exact
    squared-L2 — the same contract as :func:`pq_topk`.

    The query side is collected once and its probe cells computed on the
    driver. Then ONE Arrow pass over the corpus
    (:func:`_adc_scan_topk_arrow`, inline shape) gives every batch its
    coarse cell, its PQ code and its ADC scores against the probing
    queries' LUTs, keeps each batch's ``refine * k`` best per (query,
    cell), and computes their exact squared L2 from the vectors the batch
    already holds. The tournament (:func:`_per_query_topk`) keeps the
    global ``refine * k`` by ADC and one more ``row_number`` keeps the
    ``k`` nearest exactly (:func:`_rank_exact`): no join back to the
    corpus, no second scan of it. Cells and codes are bit-identical to
    :func:`with_nearest_ids` and :func:`pq_encode`; NULL vectors, on
    either side, are never scored.

    ``residual=False`` quantizes the raw vectors — the simplest
    replayable formulation. ``residual=True`` is FAISS's default IVFADC:
    codes quantize the CELL RESIDUAL ``v - centroid[cid]``, which
    concentrates the quantizer's dynamic range on the within-cell
    geometry and buys substantially better recall at the same code
    budget; the query-side LUT is then computed per (query, probed cell)
    against ``q - centroid[cid]`` — n_probe small LUTs per query instead
    of one. Both variants are exactly replayable (deterministic seeding,
    HALF_UP-rounded refinement means, fixed fold orders).

    A corpus searched repeatedly stores ``centroid_id`` + ``pq_code`` at
    ingest instead (``sources.ivf_store``: :func:`with_ivf_residuals` +
    :func:`pq_encode`), so its scans read codes and never a raw vector
    until the final re-rank of ~refine*k rows per query.
    """
    # one seed scan serves both trainings (seed_vectors' prefix property);
    # the residual path still seeds its PQ on the residual frame itself
    shared_seeds = seed_vectors(
        corpus, id_col, vec_col, max(n_centroids, pq_centroids)
    )
    cents = ivf_centroids(
        corpus, id_col, vec_col, n_centroids, n_iters, seeds=shared_seeds
    )
    if residual:
        resid = with_ivf_residuals(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).cast("array<double>").alias("__cv"),
            ),
            cents, vec_col="__cv", cid_col="__cid", residual_col="__rv",
        )
        cbs = pq_codebooks(resid, "neighbor_id", "__rv", n_sub,
                           pq_centroids, pq_iters)
    else:
        cbs = pq_codebooks(corpus, id_col, vec_col, n_sub,
                           pq_centroids, pq_iters, seeds=shared_seeds)

    # query side to the driver (small by contract): probe cells and one
    # LUT per (query, probed cell). Each corpus row lives in exactly ONE
    # cell, so a (query, neighbor) pair is scored at most once.
    qrows, qid_type = _query_vectors(queries, id_col, vec_col)
    entries = _probe_lut_entries(
        _probe_rows(qrows, cents, n_probe), cents, cbs, residual)
    scan = _adc_scan_topk_arrow(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__v")),
        entries, refine * k, qid_type=qid_type, vec_col="__v",
        codebooks=cbs, cents=cents, residual=residual, qvecs=dict(qrows),
    )
    return _rank_exact(_per_query_topk(scan, refine * k), k)
