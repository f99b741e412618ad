"""NumPy twins of the Spark HOF folds, and NULL vectors across the tiers.

The inline PQ / IVF-PQ scan computes cells, codes and exact distances in
NumPy (``similarity._nearest_ids_np``, ``_pq_codes_np``, ``_fold_sq_np``).
They must give exactly what the Spark expressions give — ``with_nearest_ids``
(cosine and l2), ``pq_encode`` and ``_l2sq`` — compared with ``==`` on
doubles and ids, no tolerance, including exact ties between duplicated
centroids, which go to the smaller id.

A NULL vector has no cell and no code in every tier, is never scored, and
is not counted into any k-means centroid.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nested_pandas_spark.pipeline import similarity as sim

SF = "/root/testdata/sf0.01"
NULL_IDS = (3, 77, 200)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def local(emb):
    rows = emb.orderBy("vec_id").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).collect()
    return [r["vec_id"] for r in rows], np.asarray([r["v"] for r in rows])


def _col(df, name):
    return [r[name] for r in df.orderBy("vec_id").select(name).collect()]


def test_numpy_twins_equal_spark_folds(emb, local):
    ids, V = local
    cents = sim.ivf_centroids(emb, n_centroids=8)
    # duplicated centroids tie exactly: the smaller id must win
    dup = cents + [(8, cents[3][1]), (9, cents[0][1])]
    wide = [(c, V[c].tolist()) for c in range(40)] + [(40, V[5].tolist())]
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cases = []
    for name, cs in (("c8", cents), ("dup", dup), ("wide", wide)):
        for metric in ("cosine", "l2"):
            for n in (1, 3):
                out = f"{name}_{metric}_{n}"
                base = sim.with_nearest_ids(
                    base, F.col("v"), cs, n, out=out, metric=metric)
                cases.append((out, cs, metric, n))
    got = base.orderBy("vec_id").collect()
    # the fold values themselves, not just the ids they rank
    C = np.asarray([cv for _, cv in cents])
    cdf = emb.sparkSession.createDataFrame(
        cents, "cid long, c array<double>")
    folds = base.crossJoin(cdf).select(
        "vec_id", "cid", sim.cosine(F.col("v"), F.col("c")).alias("cs"),
        sim._l2sq(F.col("v"), F.col("c")).alias("d2")).collect()
    cs_np, d2_np = sim._cosine_np(V, C), sim._fold_l2sq_np(V, C)
    row = {vid: i for i, vid in enumerate(ids)}
    assert all(r["cs"] == cs_np[row[r["vec_id"]], r["cid"]] and
               r["d2"] == d2_np[row[r["vec_id"]], r["cid"]] for r in folds)
    for out, cs, metric, n in cases:
        want = sim._nearest_ids_np(V, *sim._centroid_matrix(cs), n, metric)
        assert [r[out] for r in got] == want.tolist(), out
    ties = sim._nearest_ids_np(
        V, *sim._centroid_matrix(dup), 3, "cosine").tolist()
    assert any(t[:2] in ([3, 8], [0, 9]) for t in ties)
    assert not any(t[0] in (8, 9) for t in ties)

    cbs = sim.pq_codebooks(emb, n_sub=4, n_centroids=8)
    cbs_dup = [cb + [cb[2]] for cb in cbs]
    for books in (cbs, cbs_dup):
        codes = _col(sim.pq_encode(emb, books), "pq_code")
        assert codes == sim._pq_codes_np(V, np.asarray(books)).tolist()

    resid = sim.with_ivf_residuals(emb, cents).orderBy("vec_id").collect()
    cells = sim._nearest_ids_np(V, *sim._centroid_matrix(cents), 1)[:, 0]
    assert [r["centroid_id"] for r in resid] == cells.tolist()
    R = V - np.asarray([cv for _, cv in cents])[cells]
    assert [r["residual"] for r in resid] == R.tolist()
    rcbs = [[list(map(float, R[i, s * 16:(s + 1) * 16])) for i in range(8)]
            for s in range(4)]
    rcodes = _col(sim.pq_encode(
        sim.with_ivf_residuals(emb, cents), rcbs, "residual"), "pq_code")
    assert rcodes == sim._pq_codes_np(R, np.asarray(rcbs)).tolist()

    q = base.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    l2 = {
        (r["qid"], r["vec_id"]): r["d"]
        for r in base.crossJoin(q).select(
            "qid", "vec_id", sim._l2sq(F.col("qv"), F.col("v")).alias("d")
        ).collect()
    }
    fold = sim._fold_sq_np(V[:3, None, :] - V[None, :, :])
    assert all(l2[(qi, ids[j])] == fold[qi, j]
               for qi in range(3) for j in range(len(ids)))


def test_null_vectors_have_no_cell_code_or_neighbor(spark, emb, local):
    ids, V = local
    nulled = emb.withColumn(
        "embedding",
        F.when(~F.col("vec_id").isin(*NULL_IDS), F.col("embedding")))
    kept = emb.where(~F.col("vec_id").isin(*NULL_IDS))
    vec = F.col("embedding").cast("array<double>")
    # literal (<= 32), broadcast table (<= 128) and matmul tiers
    for n_cent in (8, 40, 150):
        cents = [(c, V[c + 10].tolist()) for c in range(n_cent)]
        out = {r["vec_id"]: r["__cids"] for r in sim.with_nearest_ids(
            nulled, vec, cents, 2).select("vec_id", "__cids").collect()}
        assert all((out[i] is None) == (i in NULL_IDS) for i in ids), n_cent
    for n_cent in (8, 40):
        cbs = sim.pq_codebooks(emb, n_sub=4, n_centroids=n_cent)
        codes = {r["vec_id"]: r["pq_code"]
                 for r in sim.pq_encode(nulled, cbs).collect()}
        assert all((codes[i] is None) == (i in NULL_IDS) for i in ids)

    # NULL rows no longer count into centroid 0's mean
    seeds = sim.seed_vectors(emb, n=6)
    assert sim.kmeans_refine(nulled, seeds, 1) == \
        sim.kmeans_refine(kept, seeds, 1)

    # a NULL-vector query probes nothing; a NULL-vector row is never
    # scored, so the answer equals the one without those rows
    q = nulled.where(F.col("vec_id").isin(0, 1, 2, 3, 5))
    calls = [
        lambda c: sim.pq_topk(c, q, k=3, n_sub=4, n_centroids=8),
        lambda c: sim.ivfpq_topk(c, q, k=3, n_centroids=8, n_probe=3),
        lambda c: sim.ivfpq_topk(c, q, k=3, n_centroids=8, n_probe=3,
                                 residual=True),
    ]
    for call in calls:
        got = sorted(tuple(r) for r in call(nulled).collect())
        assert got == sorted(tuple(r) for r in call(kept).collect())
        assert got and {r[1] for r in got}.isdisjoint(NULL_IDS)
        assert {r[0] for r in got} == {0, 1, 2, 5}
