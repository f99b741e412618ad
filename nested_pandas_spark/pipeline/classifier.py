"""Trained quality classification: the fastText-style classifier-filtering
stage of an LLM data pipeline (GPT-3 / LLaMA / CCNet all filter crawl text
with a linear classifier trained to separate a trusted corpus from raw
crawl), done distributedly on Spark.

The model is logistic regression over hashing-trick bag-of-words features,
trained by FULL-BATCH gradient descent:

    raw documents
      -> hashed presence features (term -> md5 bucket)      [one scan,
                                                             1 shuffle, cached]
      -> per epoch:
           margins   = feats  |x| broadcast(weights)        [no extra shuffle:
                                                             feats pre-hashed
                                                             by doc id]
           residuals = sigmoid(margin) - label              [row-local]
           gradient  = sum(resid * x) per bucket / N        [map-side combined
                                                             to <= dim+1 rows
                                                             per task]
           collect gradient (dim+1 rows), update on driver
      -> weights table (bucket -> weight, intercept at bucket -1)

Scale shape: the text is scanned ONCE (features are built and cached up
front, hash-partitioned by doc id); each epoch moves only doubles — a
broadcast of dim+1 weights out and a dim+1-row gradient back.  The driver
never sees a document.  Everything is deterministic (md5 bucketing, no
sampling), so the whole unrolled training loop is replayable as ANSI SQL —
the correctness gate value-checks the TRAINED WEIGHTS, not just row counts,
which is rare for an iterative algorithm.

Scoring (``classifier_score``) is a broadcast join + per-doc dot product:
one codegen'd pass, no model server, no UDF — the shape that filters 100 TB.

Reference context: nested-pandas has no trained-model stage; this extends
the pipeline the way its docs' workflow notebooks chain operators
(reference docs/pre_executed, for workflow shape only).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cached
from .dedup import _h32
from .text import words

__all__ = [
    "hashed_bow",
    "train_quality_classifier",
    "classifier_score",
    "classifier_score_inline",
]

INTERCEPT_BUCKET = -1


def hashed_bow(
    docs: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    features: str = "binary",
    intercept: bool = True,
) -> DataFrame:
    """Hashing-trick bag-of-words features as sparse ``(id, bucket, x)``
    triples: bucket = md5-derived 32-bit hash of the lower-cased
    whitespace token mod ``dim`` (the engine's shared ``_h32`` formula, so
    a SQL oracle replays it exactly).

    ``features``: ``'binary'`` (presence, the fastText default), ``'tf'``
    (term count per bucket), or ``'log_tf'`` (``ln(1 + tf)``, damped).
    With ``intercept=True`` every document additionally carries a constant
    feature at bucket ``-1`` (so intercept-only documents — empty text —
    still score).

    One shuffle (token -> (doc, bucket) aggregation); rows out are bounded
    by ``n_docs * (dim + 1)`` regardless of document length.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if features not in ("binary", "tf", "log_tf"):
        raise ValueError(
            "features must be 'binary', 'tf', or 'log_tf'; got "
            f"{features!r}"
        )
    toks = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(words(F.col(text_col))).alias("__term"),
    ).select(
        "__id", F.pmod(_h32(F.col("__term")), F.lit(dim)).alias("bucket")
    )
    grouped = toks.groupBy("__id", "bucket").agg(F.count("*").alias("__tf"))
    if features == "binary":
        x = F.lit(1.0)
    elif features == "tf":
        x = F.col("__tf").cast("double")
    else:
        x = F.log1p(F.col("__tf").cast("double"))
    feats = grouped.select("__id", "bucket", x.alias("x"))
    if intercept:
        feats = feats.unionByName(
            docs.select(
                F.col(id_col).alias("__id"),
                F.lit(INTERCEPT_BUCKET).cast("int").alias("bucket"),
                F.lit(1.0).alias("x"),
            )
        )
    return feats.withColumnRenamed("__id", id_col)


def _weights_df(spark, w: dict[int, float]) -> DataFrame:
    rows = [(int(b), float(v)) for b, v in sorted(w.items())]
    return spark.createDataFrame(rows, "bucket int, weight double")


def train_quality_classifier(
    docs: DataFrame,
    label_col: str,
    dim: int = 64,
    epochs: int = 5,
    lr: float = 1.0,
    l2: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    features: str = "binary",
) -> DataFrame:
    """Train a logistic-regression quality classifier distributedly and
    return its weights as a small DataFrame ``(bucket int, weight double)``
    with the intercept at bucket ``-1``.

    ``label_col`` must be 0/1 (or boolean / numeric castable to it).
    Full-batch gradient descent on mean logistic loss with optional L2:

        w <- w * (1 - lr * l2) - lr * mean_d[(sigmoid(w . x_d) - y_d) x_d]

    (the intercept is not L2-decayed, per convention). Starting from
    w = 0, the update is deterministic — no sampling, no shuffling of
    example order matters (full batch) — so results are reproducible
    run-to-run and replayable in SQL.

    Distribution: features are built once, hash-partitioned by document id
    and cached (released before returning); per epoch the only data motion
    is a broadcast of the dim+1 weight rows and a map-side-combined
    gradient aggregation that collects dim+1 doubles.  Margins group on the
    cached partitioning key, so the per-epoch plan adds no wide shuffle of
    per-document data.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if epochs < 1:
        raise ValueError("epochs must be >= 1")
    if lr <= 0:
        raise ValueError("lr must be > 0")
    if l2 < 0:
        raise ValueError("l2 must be >= 0")
    spark = docs.sparkSession
    labels = docs.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).cast("double").alias("__y"),
    ).where(F.col("__y").isNotNull())
    feats = (
        hashed_bow(
            docs, dim=dim, id_col=id_col, text_col=text_col,
            features=features,
        )
        .withColumnRenamed(id_col, "__id")
        .join(labels, on="__id")
        .repartition("__id")
    )
    with cached(feats) as feats:
        # n (the document count) is NOT computed by a separate count()
        # job: every document carries exactly one intercept feature row,
        # so the intercept bucket's row count inside the gradient
        # aggregation IS n. Epoch 1's collect therefore also materializes
        # the cached features — one action per epoch, nothing else.
        # The division by n moves to the driver: same two IEEE doubles,
        # bit-identical g (the trained weights stay value-gated).
        n = 0
        w: dict[int, float] = {}
        for _ in range(epochs):
            if w:
                wdf = _weights_df(spark, w)
                margins = (
                    feats.join(F.broadcast(wdf), on="bucket", how="left")
                    .groupBy("__id")
                    .agg(
                        F.sum(
                            F.coalesce(F.col("weight"), F.lit(0.0))
                            * F.col("x")
                        ).alias("__m"),
                        F.first("__y").alias("__y"),
                    )
                )
            else:
                # w = 0 -> margin 0 for every doc; skip the join entirely
                margins = feats.groupBy("__id").agg(
                    F.lit(0.0).alias("__m"), F.first("__y").alias("__y")
                )
            resid = margins.select(
                "__id",
                (
                    F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__m")))
                    - F.col("__y")
                ).alias("__r"),
            )
            grad_rows = (
                feats.join(resid, on="__id")
                .groupBy("bucket")
                .agg(
                    F.sum(F.col("__r") * F.col("x")).alias("gsum"),
                    F.count("*").alias("cnt"),
                )
                .collect()
            )
            if not n:
                by_b = {int(r["bucket"]): r for r in grad_rows}
                icpt = by_b.get(INTERCEPT_BUCKET)
                n = int(icpt["cnt"]) if icpt is not None else 0
                if n == 0:
                    raise ValueError("no documents to train on")
            for row in grad_rows:
                b = int(row["bucket"])
                g = float(row["gsum"]) / n
                decay = 1.0 if b == INTERCEPT_BUCKET else (1.0 - lr * l2)
                w[b] = w.get(b, 0.0) * decay - lr * g
    return _weights_df(spark, w)


def classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    dim: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    features: str = "binary",
    out: str = "clf_score",
    threshold: float | None = None,
) -> DataFrame:
    """Score documents with a trained classifier: ``sigmoid(w . x)`` per
    document, appended as column ``out``.  ``dim`` and ``features`` must
    match training.  With ``threshold`` set, also appends boolean
    ``{out}_keep`` (score >= threshold) — the filter most pipelines apply.

    Plan shape: one feature scan, a BROADCAST join against the dim+1
    weight rows, a per-document sum grouped on the feature shuffle's own
    key, and a join back to the input — scoring is O(tokens) with no
    all-to-all of document text.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    feats = hashed_bow(
        docs, dim=dim, id_col=id_col, text_col=text_col, features=features
    ).withColumnRenamed(id_col, "__id")
    margins = (
        feats.join(F.broadcast(weights), on="bucket", how="left")
        .groupBy("__id")
        .agg(
            F.sum(
                F.coalesce(F.col("weight"), F.lit(0.0)) * F.col("x")
            ).alias("__m")
        )
    )
    scored = margins.select(
        "__id",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("__m")))).alias(out),
    )
    result = docs.join(
        scored, on=docs[id_col] == scored["__id"], how="left"
    ).drop("__id")
    if threshold is not None:
        result = result.withColumn(
            f"{out}_keep", F.col(out) >= F.lit(float(threshold))
        )
    return result


def classifier_score_inline(
    docs: DataFrame,
    weights: DataFrame | dict[int, float],
    dim: int = 64,
    text_col: str = "text",
    features: str = "binary",
    out: str = "clf_score",
    threshold: float | None = None,
) -> DataFrame:
    """STATELESS scoring path: the weight vector folds into the plan as a
    literal map and the margin is one higher-order-function fold per row —
    no join, no aggregation, no shuffle.  This is the path for Structured
    Streaming (stateless projections compose with any sink/watermark) and
    for minimum-latency batch filters; :func:`classifier_score` (broadcast
    join) is the path for large ``dim``, since a plan-literal map of
    100k+ entries hits codegen limits (the ``random_projection`` lesson).

    ``weights``: the (bucket, weight) DataFrame from
    :func:`train_quality_classifier` (collected here — dim+1 rows), or an
    equivalent dict.  ``features`` supports ``'binary'`` (fold over
    DISTINCT token buckets) and ``'tf'`` (fold over every token — the
    margin is the same sum reordered); ``'log_tf'`` has no per-row
    closed form and must use :func:`classifier_score`.

    Appends ``out`` (sigmoid margin; NULL text scores the intercept
    alone, matching the join path's intercept-only row) and, with
    ``threshold``, boolean ``{out}_keep``.
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if features not in ("binary", "tf"):
        raise ValueError(
            "inline scoring supports features 'binary' or 'tf'; use "
            f"classifier_score for {features!r}"
        )
    if isinstance(weights, dict):
        wmap = {int(b): float(v) for b, v in weights.items()}
    else:
        wmap = {
            int(r["bucket"]): float(r["weight"]) for r in weights.collect()
        }
    bias = wmap.get(INTERCEPT_BUCKET, 0.0)
    buckets = {b: v for b, v in wmap.items() if b != INTERCEPT_BUCKET}
    # Single-source the feature formula (round-5 advice): tokenization and
    # bucketing below are the SAME Column helpers hashed_bow trains on
    # (words() from pipeline.text, _h32 from pipeline.dedup), so the inline
    # scorer cannot drift from the training features — any change to either
    # helper flows into both paths by construction.
    bks = F.transform(
        words(F.col(text_col)),
        lambda t: F.pmod(_h32(t), F.lit(dim)).cast("int"),
    )
    if features == "binary":
        bks = F.array_distinct(bks)
    if buckets:
        items = sorted(buckets.items())
        wmap_col = F.map_from_arrays(
            F.array(*[F.lit(int(b)).cast("int") for b, _ in items]),
            F.array(*[F.lit(float(v)) for _, v in items]),
        )
        margin = F.aggregate(
            bks,
            F.lit(float(bias)),
            lambda acc, b: acc
            + F.coalesce(F.element_at(wmap_col, b), F.lit(0.0)),
        )
    else:
        margin = F.lit(float(bias))
    sigmoid = lambda m: F.lit(1.0) / (F.lit(1.0) + F.exp(-m))  # noqa: E731
    score = F.when(
        F.col(text_col).isNull(), sigmoid(F.lit(float(bias)))
    ).otherwise(sigmoid(margin))
    result = docs.withColumn(out, score)
    if threshold is not None:
        result = result.withColumn(
            f"{out}_keep", F.col(out) >= F.lit(float(threshold))
        )
    return result
