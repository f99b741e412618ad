"""Materialized IVF index: the storage layer of the ANN story.

``pipeline.similarity.ivf_topk`` computes the inverted file on the fly —
right for ad-hoc search, wasteful for a corpus queried repeatedly. This
module assigns every vector its nearest centroid ONCE, at ingest, and
writes the corpus parquet **partitioned by centroid id**, with the centroid
vectors stored alongside (an underscore-prefixed sidecar file, invisible to
Spark's directory scan). Search then probes ``n_probe`` centroid lists as a
**static partition filter**: the scan plans with ``PartitionFilters`` and
touches ~``n_probe / n_centroids`` of the corpus files — at 100 TB, the
difference between reading 100 TB and reading 6 TB per query batch.

The reference library has no ANN surface at all (SURVEY §2); this is part
of the beyond-reference scale path, sharing the deterministic
seeding/refinement (``ivf_centroids``/``kmeans_refine``) so results are
reproducible and oracle-checkable.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.similarity import (
    _adc_scan_topk_arrow,
    _exact_rerank_topk,
    _per_query_topk,
    _probe_lut_entries,
    _probe_rows,
    _query_vectors,
    cosine,
    ivf_centroids,
    with_nearest_ids,
)
from ..session import cached

__all__ = ["write_ivf_index", "read_ivf_centroids", "ivf_search",
           "append_ivf_index", "ivf_cell_stats",
           "write_ivfpq_index", "read_ivfpq_meta", "ivfpq_search",
           "append_ivfpq_index"]

_SIDECAR = "_ivf_centroids.json"


def _check_append_compat(
    new_vectors: DataFrame,
    vec_col: str,
    cents: list[tuple[int, list[float]]],
    path: str,
    computed: tuple[str, ...] = (),
) -> None:
    """Fail-fast guards for the append paths: a frame whose vectors don't
    match the stored centroid dimensionality, or whose columns don't match
    the originally-written corpus, would otherwise append silently
    (parquet unions by name) and only surface as NULLs or wrong distances
    at search time. One ``first()`` probe for the dim (reads one row from
    one partition), one footer-only schema read for the columns."""
    dim = len(cents[0][1])
    row = new_vectors.select(
        F.size(F.col(vec_col)).alias("__n")).first()
    if row is not None and row["__n"] is not None and row["__n"] != dim:
        raise ValueError(
            f"append: {vec_col!r} has {row['__n']} dimensions but the "
            f"store at {path!r} was trained with {dim}-dim centroids — "
            "re-train a new index for a different embedding space"
        )
    store_fields = {
        f.name for f in new_vectors.sparkSession.read.parquet(path).schema
        if not f.name.startswith("__") and f.name not in computed
    }
    new_fields = {f.name for f in new_vectors.schema}
    if new_fields != store_fields:
        raise ValueError(
            f"append: column set {sorted(new_fields)} does not match the "
            f"store's {sorted(store_fields)} at {path!r} — appends must "
            "carry exactly the originally-written columns"
        )


def _write_append_counts(staged: DataFrame, path: str) -> list[tuple[int, int]]:
    """Write staged rows into their ``__cid=`` partitions and report
    per-cell counts from the SAME materialization: ``staged`` is cached
    so the write and the count observe one evaluation (a nondeterministic
    input — sample/limit — can't make the reported counts diverge from
    the rows actually appended)."""
    with cached(staged) as staged:
        staged.write.mode("append").partitionBy("__cid").parquet(path)
        counts = staged.groupBy("__cid").count().collect()
    return sorted((int(r["__cid"]), int(r["count"])) for r in counts)


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iters: int = 2,
    mode: str = "overwrite",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """Write ``corpus`` as an IVF-partitioned parquet index at ``path``.

    The centroid assignment is one Arrow-batched map
    (:func:`~nested_pandas_spark.pipeline.similarity.with_nearest_ids`,
    zero shuffle);
    the write adds one hash repartition on the centroid id so each
    partition directory is a few well-sized files instead of
    one-per-input-task fragments. Returns the centroids (also persisted in
    the ``_ivf_centroids.json`` sidecar; underscore-prefixed files are
    ignored by Spark's scans, same convention as ``_SUCCESS``).

    ``centroids=`` skips training and partitions by the GIVEN centroid
    set (bring-your-own: train on a sample, reuse across stores, or
    seed an index that :func:`append_ivf_index` will grow).
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, id_col, vec_col, n_centroids, n_iters)
    )
    vec = F.col(vec_col).cast("array<double>")
    (
        with_nearest_ids(corpus, vec, cents, 1)
        .withColumn("__cid", F.col("__cids")[0])
        .drop("__cids")
        .repartition(F.col("__cid"))
        .write.mode(mode)
        .partitionBy("__cid")
        .parquet(path)
    )
    with open(os.path.join(path, _SIDECAR), "w") as f:
        json.dump({"centroids": [[cid, cv] for cid, cv in cents]}, f)
    return cents


def read_ivf_centroids(path: str) -> list[tuple[int, list[float]]]:
    with open(os.path.join(path, _SIDECAR)) as f:
        data = json.load(f)
    return [(int(cid), list(map(float, cv))) for cid, cv in data["centroids"]]


def append_ivf_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int]]:
    """Append ``new_vectors`` to an existing :func:`write_ivf_index`
    store WITHOUT re-training: each vector is assigned to its nearest
    STORED centroid (sidecar) by the same assignment pass the writer
    used, and the rows are appended into exactly the matching
    ``__cid=`` partition directories (``mode("append")`` +
    ``partitionBy`` touch only directories that receive data — the
    plan-audit proof checks no other partition gains files). Search
    results after (write A, append B) are identical to (write A∪B with
    the same centroids): assignment depends only on the centroid set,
    which append never changes. Returns per-cell appended counts
    ``[(cid, n), ...]``.

    **Re-train trigger**: appends track the corpus drift but the
    centroids don't move, so recall decays as the appended mass shifts
    away from the trained cells — the observable symptom is CELL-SIZE
    SKEW (a few cells absorbing most appends, growing scan cost per
    probe). Monitor :func:`ivf_cell_stats`; re-train (fresh
    ``write_ivf_index`` on the full corpus) when ``max/mean`` cell size
    exceeds ~4x its post-train value or any probed cell stops fitting
    an executor's scan budget.
    """
    cents = read_ivf_centroids(path)
    _check_append_compat(new_vectors, vec_col, cents, path)
    vec = F.col(vec_col).cast("array<double>")
    staged = (
        with_nearest_ids(new_vectors, vec, cents, 1)
        .withColumn("__cid", F.col("__cids")[0])
        .drop("__cids")
        .repartition(F.col("__cid"))
    )
    return _write_append_counts(staged, path)


def ivf_cell_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-cell row counts of an IVF/IVFPQ store — the append-skew
    monitor for :func:`append_ivf_index` / :func:`append_ivfpq_index`.
    One count aggregation over the partition column only (parquet
    footer/metadata scan grain, no vector bytes read)."""
    return (
        spark.read.parquet(path)
        .groupBy(F.col("__cid").cast("long").alias("cid"))
        .agg(F.count("*").alias("n"))
    )


def ivf_search(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate top-k against a :func:`write_ivf_index` store.

    The probe set (each query's ``n_probe`` nearest centroid ids) is
    computed driver-side from the query vectors — the query side of an ANN
    search is small by contract — and applied as a LITERAL ``isin`` filter
    on the partition column, so Catalyst prunes non-probed partition
    directories at planning time (``PartitionFilters`` in the scan, files
    never opened). The probed slice then joins the (broadcast) query
    probes on centroid id and exact-reranks, identical to ``ivf_topk``'s
    math — same output, a fraction of the scan.
    """
    cents = read_ivf_centroids(path)
    vec = F.col(vec_col).cast("array<double>")
    q = with_nearest_ids(
        queries.select(
            F.col(id_col).alias("query_id"), vec.alias("__qv")
        ),
        F.col("__qv"), cents, n_probe,
    ).select("query_id", "__qv", F.explode(F.col("__cids")).alias("__cid"))
    # driver-side probe set: tiny (<= queries x n_probe ints), and turning
    # it into a literal is exactly what enables static partition pruning
    probe_cids = sorted({r["__cid"] for r in q.select("__cid").distinct().collect()})
    store = spark.read.parquet(path).where(F.col("__cid").isin(probe_cids))
    c = store.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
        F.col("__cid").cast("long").alias("__cid"),
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


_PQ_SIDECAR = "_ivfpq_meta.json"


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_iters: int = 2,
    n_sub: int = 4,
    pq_centroids: int = 8,
    pq_iters: int = 0,
    mode: str = "overwrite",
    residual: bool = False,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks=None,
):
    """Write an IVF+PQ index: corpus parquet partitioned by centroid id
    (planning-time partition pruning, as :func:`write_ivf_index`) with the
    PQ code stored per row. The raw vector column is kept for the exact
    re-rank, but the ADC scan phase selects only (id, pq_code) — parquet
    column pruning keeps the hot scan at ~n_sub bytes/row, the IVFx,PQy
    memory story at rest. Centroids AND codebooks persist in an
    underscore-prefixed sidecar. Returns (centroids, codebooks).

    ``residual=True`` stores codes over the cell residual
    ``v - centroid[cid]`` (FAISS IVFADC default — better recall at the
    same code budget; see ``ivfpq_topk(residual=True)``); the flag rides
    in the sidecar so :func:`ivfpq_search` picks the matching query path
    automatically.

    ``centroids=`` / ``codebooks=`` skip the respective training and use
    the given tables (bring-your-own; both or either — e.g. seed an
    index that :func:`append_ivfpq_index` will grow).
    """
    from ..pipeline.similarity import (
        pq_codebooks,
        pq_encode,
        with_ivf_residuals,
    )

    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, id_col, vec_col, n_centroids, n_iters)
    )
    vec = F.col(vec_col).cast("array<double>")
    if residual:
        staged = with_ivf_residuals(
            corpus, cents, vec_col=vec_col, cid_col="__cid",
            residual_col="__rv",
        )
        cbs = (
            codebooks
            if codebooks is not None
            else pq_codebooks(staged, id_col, "__rv", n_sub, pq_centroids,
                              pq_iters)
        )
        staged = pq_encode(staged, cbs, "__rv").drop("__rv")
    else:
        cbs = (
            codebooks
            if codebooks is not None
            else pq_codebooks(corpus, id_col, vec_col, n_sub, pq_centroids,
                              pq_iters)
        )
        staged = (
            with_nearest_ids(pq_encode(corpus, cbs, vec_col), vec, cents, 1)
            .withColumn("__cid", F.col("__cids")[0])
            .drop("__cids")
        )
    (
        staged.repartition(F.col("__cid"))
        .write.mode(mode)
        .partitionBy("__cid")
        .parquet(path)
    )
    with open(os.path.join(path, _PQ_SIDECAR), "w") as f:
        json.dump({
            "centroids": [[cid, cv] for cid, cv in cents],
            "codebooks": cbs,
            "residual": bool(residual),
        }, f)
    return cents, cbs


def append_ivfpq_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, int]]:
    """Append ``new_vectors`` to an existing :func:`write_ivfpq_index`
    store without re-training: assign to the STORED centroids, PQ-encode
    with the STORED codebooks (residual-aware — the sidecar flag picks
    the matching encode path), append into the assigned ``__cid=``
    partitions only. (write A, append B) searches identically to
    (write A∪B with the same centroids+codebooks). Returns per-cell
    appended counts. Re-train trigger: see :func:`append_ivf_index`
    (monitor :func:`ivf_cell_stats` for cell skew; PQ codebooks
    additionally stale as the appended distribution drifts — re-train
    when ADC-vs-exact rank agreement drops on a held-out probe set).
    """
    from ..pipeline.similarity import pq_encode, with_ivf_residuals

    meta = _read_sidecar(path)
    cents, cbs = read_ivfpq_meta(path)
    _check_append_compat(new_vectors, vec_col, cents, path,
                         computed=("pq_code",))
    residual = bool(meta.get("residual"))
    vec = F.col(vec_col).cast("array<double>")
    if residual:
        staged = with_ivf_residuals(
            new_vectors, cents, vec_col=vec_col, cid_col="__cid",
            residual_col="__rv",
        )
        staged = pq_encode(staged, cbs, "__rv").drop("__rv")
    else:
        staged = (
            with_nearest_ids(
                pq_encode(new_vectors, cbs, vec_col), vec, cents, 1
            )
            .withColumn("__cid", F.col("__cids")[0])
            .drop("__cids")
        )
    return _write_append_counts(staged.repartition(F.col("__cid")), path)


def _read_sidecar(path: str) -> dict:
    with open(os.path.join(path, _PQ_SIDECAR)) as f:
        return json.load(f)


def read_ivfpq_meta(path: str):
    data = _read_sidecar(path)
    cents = [(int(cid), list(map(float, cv))) for cid, cv in data["centroids"]]
    cbs = [[list(map(float, cv)) for cv in cb] for cb in data["codebooks"]]
    return cents, cbs


def ivfpq_search(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    refine: int = 4,
) -> DataFrame:
    """Approximate top-k against a :func:`write_ivfpq_index` store —
    identical math (and output) to
    :func:`~nested_pandas_spark.pipeline.similarity.ivfpq_topk`, but the
    inverted file and codes are read, not recomputed: probed cells become
    a literal partition filter (files never opened outside the probe
    set), the ADC scan projects only (id, pq_code), and the exact re-rank
    re-reads just the candidate rows' vectors from the same pruned slice.
    A residual-coded store (``write_ivfpq_index(residual=True)``, flag in
    the sidecar) automatically gets the residual query path: one LUT per
    (query, probed cell) against ``q - centroid[cid]``.

    The ADC scan runs as NumPy Arrow batches against driver-computed LUTs;
    the probe set is a literal ``isin`` on the partition column, applied
    BEFORE the scan sees a row.
    """
    meta = _read_sidecar(path)
    cents, cbs = read_ivfpq_meta(path)
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    qrows, qid_type = _query_vectors(queries, id_col, vec_col)
    entries = _probe_lut_entries(_probe_rows(qrows, cents, n_probe), cents,
                                 cbs, bool(meta.get("residual")))
    probe_cids = sorted({int(cid) for _, cid, _ in entries})
    store = spark.read.parquet(path).where(F.col("__cid").isin(probe_cids))

    # ADC phase: only (id, code, partition col) leave the scan; each
    # (query, candidate) pair costs n_sub LUT lookups, never an O(dim)
    # reconstruction distance
    codes = store.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("pq_code"),
        F.col("__cid").cast("long").alias("__cid"),
    )
    adc = _adc_scan_topk_arrow(
        codes, entries, refine * k, cell_col="__cid",
        qid_type=qid_type,
    )
    cand = _per_query_topk(adc, refine * k).select("query_id", "neighbor_id")
    return _exact_rerank_topk(cand, store, qv, k, id_col, vec_col)
