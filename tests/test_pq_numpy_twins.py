"""The NumPy assignment kernels against the Spark HOF folds, and vectors
that have no cell.

Cells, codes and exact distances are computed in NumPy
(``similarity._nearest_ids_np``, ``_pq_codes_np``, ``_fold_sq_np``) by
``with_nearest_ids``, ``pq_encode``, ``with_ivf_residuals`` and the inline
PQ / IVF-PQ scan. They must give exactly what the Spark expressions give:
the expected ids and codes are ranked in Python from the ``cosine`` /
``_l2sq`` values Spark computes per (row, centroid) pair, and compared
with ``==``, no tolerance, including exact ties between duplicated
centroids, which go to the smaller id.

A NULL vector, or one of the wrong dimension, has no cell and no code at
every centroid count, is never scored, and is not counted into any
k-means centroid.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nested_pandas_spark.pipeline import similarity as sim

SF = "/root/testdata/sf0.01"
NULL_IDS = (3, 77, 200)
SHORT_ID, LONG_ID = 11, 150  # 32-d and 80-d vectors among the 64-d ones
BAD_IDS = NULL_IDS + (SHORT_ID, LONG_ID)


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


def _spark_folds(df, vcol, table, d_sub=None):
    """{(vec_id, s, cid): (cosine, squared L2)} as Spark's ``cosine`` and
    ``_l2sq`` folds compute them for every (row, table entry) pair. Table
    rows are ``(s, cid, vector)``; with ``d_sub`` the row vector is its
    subspace-``s`` slice and only the squared L2 is computed."""
    t = df.sparkSession.createDataFrame(
        table, "s int, cid long, c array<double>")
    v, c = F.col(vcol), F.col("c")
    if d_sub is None:
        cs = sim.cosine(v, c)
    else:
        v, cs = F.slice(v, F.col("s") * d_sub + 1, d_sub), F.lit(None)
    return {
        (r["vec_id"], r["s"], r["cid"]): (r["cs"], r["d2"])
        for r in df.crossJoin(t).select(
            "vec_id", "s", "cid", cs.alias("cs"),
            sim._l2sq(v, c).alias("d2")).collect()
    }


def _ref_ids(folds, ids, cids, metric, n):
    """Per row, the ``n`` best centroid ids by the Spark fold values:
    cosine desc or squared L2 asc, exact ties to the smaller id."""
    if metric == "cosine":
        return [sorted(cids, key=lambda c: (-folds[i, 0, c][0], c))[:n]
                for i in ids]
    return [sorted(cids, key=lambda c: (folds[i, 0, c][1], c))[:n]
            for i in ids]


def _ref_codes(df, vcol, books, ids):
    """Per row, each subspace's codebook entry with the smallest Spark
    ``_l2sq`` fold over the row's slice, ties to the smaller id."""
    d_sub = len(books[0][0])
    folds = _spark_folds(df, vcol, [
        (s, c, cv) for s, cb in enumerate(books) for c, cv in enumerate(cb)
    ], d_sub)
    k = range(len(books[0]))
    return [[min(k, key=lambda c: (folds[i, s, c][1], c))
             for s in range(len(books))] for i in ids]


def test_numpy_twins_equal_spark_folds(emb, local):
    ids, V = local
    cents = sim.ivf_centroids(emb, n_centroids=8)
    # duplicated centroids tie exactly: the smaller id must win
    dup = cents + [(8, cents[3][1]), (9, cents[0][1])]
    wide = [(c, V[c].tolist()) for c in range(40)] + [(40, V[5].tolist())]
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    got = base
    cases = []
    for name, cs in (("c8", cents), ("dup", dup), ("wide", wide)):
        for metric in ("cosine", "l2"):
            for n in (1, 3):
                out = f"{name}_{metric}_{n}"
                got = sim.with_nearest_ids(
                    got, F.col("v"), cs, n, out=out, metric=metric)
                cases.append((out, cs, metric, n))
    got = got.orderBy("vec_id").collect()
    folds = {name: _spark_folds(base, "v", [(0, c, cv) for c, cv in cs])
             for name, cs in (("c8", cents), ("dup", dup), ("wide", wide))}
    for out, cs, metric, n in cases:
        want = _ref_ids(folds[out.split("_")[0]], ids,
                        sorted(c for c, _ in cs), metric, n)
        assert [r[out] for r in got] == want, out
    ties = [r["dup_cosine_3"] for r in got]
    assert any(t[:2] in ([3, 8], [0, 9]) for t in ties)
    assert not any(t[0] in (8, 9) for t in ties)
    # the NumPy folds themselves equal the Spark fold values
    cs_np = sim._cosine_np(V, np.asarray([cv for _, cv in cents]))
    d2_np = sim._fold_l2sq_np(V, np.asarray([cv for _, cv in cents]))
    row = {vid: i for i, vid in enumerate(ids)}
    assert all(cs_ == cs_np[row[i], c] and d2 == d2_np[row[i], c]
               for (i, _, c), (cs_, d2) in folds["c8"].items())

    cbs = sim.pq_codebooks(emb, n_sub=4, n_centroids=8)
    cbs_dup = [cb + [cb[2]] for cb in cbs]
    for books in (cbs, cbs_dup):
        codes = _col(sim.pq_encode(emb, books), "pq_code")
        assert codes == _ref_codes(base, "v", books, ids)
    assert any(2 in c for c in codes)  # the tie was in play
    assert not any(8 in c for c in codes)

    resid = sim.with_ivf_residuals(emb, cents).orderBy("vec_id").collect()
    cells = [c[0] for c in _ref_ids(folds["c8"], ids, range(8), "cosine", 1)]
    assert [r["centroid_id"] for r in resid] == cells
    spark_resid = _col(
        base.join(emb.sparkSession.createDataFrame(
            list(zip(ids, cells)), "vec_id long, cid long"), "vec_id")
        .join(emb.sparkSession.createDataFrame(
            cents, "cid long, c array<double>"), "cid")
        .select("vec_id", F.zip_with("v", "c", lambda a, b: a - b).alias("r")),
        "r")
    assert [r["residual"] for r in resid] == spark_resid
    R = np.asarray(spark_resid)
    rcbs = [[list(map(float, R[i, s * 16:(s + 1) * 16])) for i in range(8)]
            for s in range(4)]
    rcodes = _col(sim.pq_encode(
        sim.with_ivf_residuals(emb, cents), rcbs, "residual"), "pq_code")
    rbase = emb.sparkSession.createDataFrame(
        list(zip(ids, spark_resid)), "vec_id long, v array<double>")
    assert rcodes == _ref_codes(rbase, "v", rcbs, ids)

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
    e = F.col("embedding")
    nulled = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id") == SHORT_ID, F.slice(e, 1, 32))
        .when(F.col("vec_id") == LONG_ID, F.concat(e, F.slice(e, 1, 16)))
        .when(~F.col("vec_id").isin(*NULL_IDS), e))
    kept = emb.where(~F.col("vec_id").isin(*BAD_IDS))
    vec = F.col("embedding").cast("array<double>")
    # the fold (<= 128 centroids) and BLAS (> 128) scores
    for n_cent in (8, 40, 150):
        cents = [(c, V[c + 10].tolist()) for c in range(n_cent)]
        out = {r["vec_id"]: r["__cids"] for r in sim.with_nearest_ids(
            nulled, vec, cents, 2).select("vec_id", "__cids").collect()}
        assert all((out[i] is None) == (i in BAD_IDS) for i in ids), n_cent
    for n_cent in (8, 40):
        cbs = sim.pq_codebooks(emb, n_sub=4, n_centroids=n_cent)
        codes = {r["vec_id"]: r["pq_code"]
                 for r in sim.pq_encode(nulled, cbs).collect()}
        assert all((codes[i] is None) == (i in BAD_IDS) for i in ids)

    # NULL and wrong-dim rows count into no centroid's mean
    seeds = sim.seed_vectors(emb, n=6)
    assert sim.kmeans_refine(nulled, seeds, 1) == \
        sim.kmeans_refine(kept, seeds, 1)
    assert sim.pq_codebooks(nulled, n_iters=1) == \
        sim.pq_codebooks(kept, n_iters=1)

    # a NULL-vector query probes nothing; a NULL or wrong-dim row is never
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
        assert got and {r[1] for r in got}.isdisjoint(BAD_IDS)
        assert {r[0] for r in got} == {0, 1, 2, 5}


def test_null_seed_vector_is_skipped(spark):
    """A NULL vector at seed rank 0 (the md5-smallest id) is not a seed:
    seeding, PQ codebooks and both searches equal their answers on the
    frame without that row."""
    import hashlib

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(8).tolist()) for i in range(60)]
    first = min(range(60), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    schema = "vec_id long, embedding array<double>"
    nulled = spark.createDataFrame(
        [(i, None if i == first else v) for i, v in rows], schema)
    dropped = spark.createDataFrame([r for r in rows if r[0] != first], schema)
    assert sim.seed_vectors(nulled, n=8) == sim.seed_vectors(dropped, n=8)
    assert sim.pq_codebooks(nulled, n_sub=2, n_centroids=8) == \
        sim.pq_codebooks(dropped, n_sub=2, n_centroids=8)
    q = dropped.where(F.col("vec_id") < 4)
    calls = [
        lambda c: sim.pq_topk(c, q, k=3, n_sub=2, n_centroids=8),
        lambda c: sim.ivf_topk(c, q, k=3, n_centroids=4, n_probe=2),
    ]
    for call in calls:
        got = sorted(tuple(r) for r in call(nulled).collect())
        assert got and got == sorted(tuple(r) for r in call(dropped).collect())


@pytest.mark.parametrize("n_cent", [8, 150])
def test_zero_norm_vector_raises_at_every_size(spark, n_cent):
    """A zero-norm vector has no cosine: the fold (<= 128 centroids) and
    the BLAS branch (> 128) both fail the job; squared L2 still assigns
    it."""
    df = spark.createDataFrame([(1, [1.0, 2.0]), (2, [0.0, 0.0])],
                               "vec_id long, embedding array<double>")
    cents = [(i, [1.0 + i, 1.0]) for i in range(n_cent)]
    vec = F.col("embedding")
    with pytest.raises(Exception, match="cosine of a zero-norm vector"):
        sim.with_nearest_ids(df, vec, cents, 1).collect()
    l2 = {r["vec_id"]: r["__cids"]
          for r in sim.with_nearest_ids(df, vec, cents, 1, metric="l2").collect()}
    assert l2 == {1: [0], 2: [0]}
