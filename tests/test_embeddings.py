"""Distributed PCA: numpy parity, whitening, projection plan shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from nested_pandas_spark.pipeline.embeddings import (
    covariance_matrix,
    embedding_moments,
    pca_fit,
    pca_transform,
)
from nested_pandas_spark.plans.inspect import find_nodes, plan_nodes


@pytest.fixture(scope="module")
def vecs_np():
    rng = np.random.RandomState(7)
    # anisotropic: strong variance along a few known directions
    base = rng.randn(400, 8) * np.array([5, 3, 2, 1, 0.5, 0.3, 0.2, 0.1])
    q, _ = np.linalg.qr(rng.randn(8, 8))
    return (base @ q) + rng.randn(8) * 2.0


@pytest.fixture(scope="module")
def vecs(spark, vecs_np):
    rows = [(i, v.tolist()) for i, v in enumerate(vecs_np)]
    rows.append((999, None))
    rows.append((998, [1.0, 2.0]))  # wrong dim: skipped
    return spark.createDataFrame(rows, "id long, embedding array<double>").repartition(5)


def test_moments_match_numpy(spark, vecs, vecs_np):
    n, mean, cov = embedding_moments(vecs, "embedding", dim=8)
    assert n == len(vecs_np)
    np.testing.assert_allclose(mean, vecs_np.mean(axis=0), rtol=1e-12)
    np.testing.assert_allclose(
        cov, np.cov(vecs_np.T, bias=True), rtol=1e-9, atol=1e-12
    )


def test_covariance_matrix_frame(spark, vecs, vecs_np):
    got = {(r["i"], r["j"]): r["cov"] for r in covariance_matrix(vecs, "embedding", dim=8).collect()}
    want = np.cov(vecs_np.T, bias=True)
    assert len(got) == 64
    for (i, j), v in got.items():
        assert v == pytest.approx(want[i, j], rel=1e-9, abs=1e-12)


def test_pca_matches_numpy_eigh(spark, vecs, vecs_np):
    model = pca_fit(vecs, k=3, vec_col="embedding", dim=8)
    cov = np.cov(vecs_np.T, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:3]
    np.testing.assert_allclose(
        model.explained_variance, evals[order], rtol=1e-9
    )
    for r, col in enumerate(order):
        want = evecs[:, col]
        j = int(np.argmax(np.abs(want)))
        if want[j] < 0:
            want = -want
        np.testing.assert_allclose(model.components[r], want, atol=1e-9)


def test_transform_parity_and_whitening(spark, vecs, vecs_np):
    model = pca_fit(vecs, k=3, vec_col="embedding", dim=8, whiten=True)
    out = (
        pca_transform(vecs.where("id < 900"), model, "embedding", out="p")
        .select("id", "p")
        .collect()
    )
    W = np.asarray(model.components)
    mu = np.asarray(model.mean)
    sc = 1.0 / np.sqrt(np.asarray(model.explained_variance))
    P = np.stack([np.asarray(r["p"]) for r in sorted(out, key=lambda r: r["id"])])
    want = ((vecs_np - mu) @ W.T) * sc
    np.testing.assert_allclose(P, want, rtol=1e-9, atol=1e-9)
    # whitened components have ~unit population variance
    np.testing.assert_allclose(P.var(axis=0), np.ones(3), rtol=1e-6)


def test_transform_plan_is_broadcast_no_shuffle(spark, vecs, vecs_np):
    model = pca_fit(vecs, k=2, vec_col="embedding", dim=8)
    flat = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs_np)],
        "id long, embedding array<double>",
    )  # no repartition: any Exchange in the plan is the operator's own
    nodes = list(plan_nodes(pca_transform(flat, model, "embedding")))
    assert find_nodes(nodes, "BroadcastNestedLoopJoin", "BroadcastExchange")
    assert find_nodes(nodes, "ShuffleExchange") == []


def test_k_validation(spark, vecs):
    with pytest.raises(ValueError):
        pca_fit(vecs, k=0, vec_col="embedding", dim=8)
    with pytest.raises(ValueError):
        pca_fit(vecs, k=9, vec_col="embedding", dim=8)


def test_moments_clean_batch_fast_path_bit_exact(spark, vecs_np):
    """A batch with no nulls and uniform dim takes the vectorized
    Arrow-buffer path in _moment_partials; its (n, sum, gram) must be
    BIT-identical to the per-row loop's float64 reductions (same values,
    same row order, same numpy pairwise folds)."""
    rows = [(i, v.tolist()) for i, v in enumerate(vecs_np)]
    clean = spark.createDataFrame(
        rows, "id long, embedding array<double>").coalesce(1)
    n, mean, cov = embedding_moments(clean, "embedding", dim=8)
    X = np.asarray([v for _, v in rows], dtype=np.float64)
    s = X.sum(axis=0)
    g = X.T @ X
    assert n == X.shape[0]
    exp_mean = s / n
    exp_cov = g / n - np.outer(exp_mean, exp_mean)
    assert (np.asarray(mean) == exp_mean).all()
    assert (np.asarray(cov) == exp_cov).all()


def test_moments_float32_and_fixed_width_inputs(spark, vecs_np):
    """float32 storage upcasts exactly; the fast path must accept it."""
    rows = [(i, v.tolist()) for i, v in enumerate(vecs_np)]
    f32 = spark.createDataFrame(
        rows, "id long, embedding array<float>").coalesce(1)
    n, mean, cov = embedding_moments(f32, "embedding", dim=8)
    X = np.asarray(
        [v for _, v in rows], dtype=np.float32).astype(np.float64)
    assert n == X.shape[0]
    s = X.sum(axis=0)
    exp_mean = s / n
    assert (np.asarray(mean) == exp_mean).all()
