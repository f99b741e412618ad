"""Distributed embedding statistics: covariance, PCA, whitening.

The classic two-pass-free recipe for PCA over a corpus too large to
materialize: every partition reduces its Arrow batches to ONE moment row
``(n, sum_vec[d], gram[d*d])`` (``mapInArrow``), the driver combines the
per-partition rows (numPartitions small rows — never the data) into the
d x d covariance, and ``numpy.linalg.eigh`` on the driver yields the
components (d is model dimension, 64-4096; the eigendecomposition is
microseconds and needs no cluster). The projection then ships back as one
broadcast matrix row — the same O(1)-plan-node pattern as
``similarity.random_projection`` (a literal-per-entry expression tree
overflows JVM codegen; a broadcast array does not).

Covariance is population (divide by n), computed as ``G/n - mean
mean^T`` — embeddings are near-centered, so the one-pass formula's
cancellation risk does not apply. Component signs are canonicalized
(largest-|entry| coordinate positive) so fits are deterministic across
partitionings.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import drop_zip_finders

__all__ = [
    "embedding_moments",
    "covariance_matrix",
    "PCAModel",
    "pca_fit",
    "pca_transform",
]


def _moment_partials(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """One (n, s, g) row per non-empty Arrow batch; rows/NULLs of the
    wrong dimension are skipped (count them upstream if they matter)."""
    import numpy as np
    import pyarrow as pa

    out_schema = (
        f"n long, s array<double>, g array<double>"
    )

    def _batch_matrix(col):
        """(rows, dim) float64 view of a CLEAN batch — no null rows, no
        null elements, every list exactly ``dim`` long — built from the
        Arrow values buffer without per-row Python. Returns None when the
        batch needs the filtering row loop. Same values in the same row
        order as the loop, so the numpy reductions below are
        bit-identical either way."""
        import pyarrow.compute as pc

        try:
            if col.null_count != 0:
                return None
            lengths = pc.list_value_length(col)
            if lengths.null_count != 0:
                return None
            ln = lengths.to_numpy(zero_copy_only=False)
            if ln.size == 0 or not (ln == dim).all():
                return None
            flat = col.flatten()
            if flat.null_count != 0:
                return None
            vals = flat.to_numpy(zero_copy_only=False)
        except (pa.lib.ArrowInvalid, pa.lib.ArrowNotImplementedError,
                NotImplementedError):
            return None
        return vals.astype(np.float64, copy=False).reshape(-1, dim)

    def gen(batches):
        drop_zip_finders()
        for batch in batches:
            col = batch.column(0)
            X = _batch_matrix(col)
            if X is None:
                mat = []
                for v in col.to_pylist():
                    if v is not None and len(v) == dim:
                        mat.append(v)
                if not mat:
                    continue
                X = np.asarray(mat, dtype=np.float64)
            s = X.sum(axis=0)
            g = X.T @ X
            yield pa.RecordBatch.from_pydict(
                {
                    "n": pa.array([X.shape[0]], pa.int64()),
                    "s": pa.array([s.tolist()], pa.list_(pa.float64())),
                    "g": pa.array(
                        [g.reshape(-1).tolist()], pa.list_(pa.float64())
                    ),
                }
            )

    return df.select(F.col(vec_col)).mapInArrow(gen, out_schema)


def embedding_moments(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
):
    """(n, mean[d], cov[d, d]) — driver-side numpy results.

    The collect is numPartitions moment rows, each d + d*d doubles —
    independent of corpus size."""
    import numpy as np

    if dim is None:
        row = df.select(F.size(F.col(vec_col)).alias("k")).first()
        if row is None or row["k"] is None:
            raise ValueError("cannot infer dim from empty input; pass dim=")
        dim = row["k"]
    parts = _moment_partials(df, vec_col, dim).collect()
    if not parts:
        raise ValueError("no vectors of the requested dimension")
    n = sum(p["n"] for p in parts)
    s = np.sum([np.asarray(p["s"]) for p in parts], axis=0)
    g = np.sum([np.asarray(p["g"]) for p in parts], axis=0).reshape(dim, dim)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    return n, mean, cov


def covariance_matrix(
    df: DataFrame, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """Population covariance as a (i, j, cov) DataFrame — d*d rows, a
    bounded result at any corpus size (the oracle-gated surface)."""
    spark = df.sparkSession
    n, mean, cov = embedding_moments(df, vec_col, dim)
    d = cov.shape[0]
    rows = [
        (i, j, float(cov[i, j])) for i in range(d) for j in range(d)
    ]
    return spark.createDataFrame(rows, "i int, j int, cov double")


def _canon_signs(components):
    import numpy as np

    comps = components.copy()
    for r in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[r])))
        if comps[r, j] < 0:
            comps[r] = -comps[r]
    return comps


@dataclass
class PCAModel:
    mean: list[float]
    components: list[list[float]]  # (k, d) rows = principal axes
    explained_variance: list[float]  # eigenvalues, descending
    whiten: bool = False


def pca_fit(
    df: DataFrame,
    k: int,
    vec_col: str = "embedding",
    *,
    dim: int | None = None,
    whiten: bool = False,
) -> PCAModel:
    """Top-k principal components from the distributed moments."""
    import numpy as np

    n, mean, cov = embedding_moments(df, vec_col, dim)
    if not 1 <= k <= cov.shape[0]:
        raise ValueError(f"k must be in [1, {cov.shape[0]}], got {k}")
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = _canon_signs(evecs[:, order].T)
    return PCAModel(
        mean=mean.tolist(),
        components=comps.tolist(),
        explained_variance=[float(evals[i]) for i in order],
        whiten=whiten,
    )


def pca_transform(
    df: DataFrame,
    model: PCAModel,
    vec_col: str = "embedding",
    out: str = "pca",
) -> DataFrame:
    """Project (and optionally whiten) each vector onto the components.

    The (k, d) matrix and the mean ride in ONE broadcast single-row frame;
    the projection is a nested transform/zip_with/aggregate expression —
    O(1) plan nodes, zero shuffle, codegen'd (the random_projection
    pattern, similarity.py:1259)."""
    import math

    from pyspark.sql import types as T

    scales = [
        1.0 / math.sqrt(v) if model.whiten and v > 0 else 1.0
        for v in model.explained_variance
    ]
    rows = [
        (
            model.mean,
            [
                [c * s for c in crow]
                for crow, s in zip(model.components, scales)
            ],
        )
    ]
    mat = df.sparkSession.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("__pca_mu", T.ArrayType(T.DoubleType())),
                T.StructField(
                    "__pca_W", T.ArrayType(T.ArrayType(T.DoubleType()))
                ),
            ]
        ),
    )
    v = F.col(vec_col).cast("array<double>")
    centered = F.zip_with(v, F.col("__pca_mu"), lambda a, b: a - b)
    proj = F.transform(
        F.col("__pca_W"),
        lambda wrow: F.aggregate(
            F.zip_with(centered, wrow, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return (
        df.crossJoin(F.broadcast(mat))
        .withColumn(out, proj)
        .drop("__pca_mu", "__pca_W")
    )
