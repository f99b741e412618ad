"""Trained quality classifier (pipeline/classifier.py): distributed
full-batch logistic regression vs an independent NumPy reference, plus
scoring, validation, and cache-hygiene checks."""

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from nested_pandas_spark.pipeline.classifier import (
    INTERCEPT_BUCKET,
    classifier_score,
    hashed_bow,
    train_quality_classifier,
)

DOCS = [
    (0, "the cat sat on the mat", 1),
    (1, "quantum flux capacitor overload zzz", 0),
    (2, "the dog ate the homework and the cat", 1),
    (3, "xxyy zz qq flurb glorp", 0),
    (4, "a cat and a dog met on the mat", 1),
    (5, "glorp flurb zz overload", 0),
    (6, "", 1),
    (7, "the the the the", 0),
]


def _h32_py(term: str) -> int:
    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16)


def _featurize(text: str, dim: int, features: str) -> dict[int, float]:
    toks = [w for w in text.lower().split() if w]
    counts: dict[int, float] = {}
    for t in toks:
        b = _h32_py(t) % dim
        counts[b] = counts.get(b, 0.0) + 1.0
    if features == "binary":
        feats = {b: 1.0 for b in counts}
    elif features == "tf":
        feats = dict(counts)
    else:
        feats = {b: math.log1p(c) for b, c in counts.items()}
    feats[INTERCEPT_BUCKET] = 1.0
    return feats


def _train_numpy(rows, dim, epochs, lr, l2, features):
    """Independent reference: dense full-batch GD, identical update rule."""
    X = np.zeros((len(rows), dim + 1))  # column `dim` is the intercept
    y = np.zeros(len(rows))
    for i, (_, text, label) in enumerate(rows):
        for b, v in _featurize(text, dim, features).items():
            X[i, dim if b == INTERCEPT_BUCKET else b] = v
        y[i] = label
    w = np.zeros(dim + 1)
    for _ in range(epochs):
        margins = X @ w
        resid = 1.0 / (1.0 + np.exp(-margins)) - y
        grad = X.T @ resid / len(rows)
        decay = np.full(dim + 1, 1.0 - lr * l2)
        decay[dim] = 1.0  # intercept not decayed
        w = w * decay - lr * grad
    return w


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, y int")


@pytest.mark.parametrize("features", ["binary", "tf", "log_tf"])
def test_train_matches_numpy_reference(spark, docs, features):
    dim, epochs, lr, l2 = 16, 4, 0.7, 0.01
    wdf = train_quality_classifier(
        docs, "y", dim=dim, epochs=epochs, lr=lr, l2=l2, features=features
    )
    got = {r["bucket"]: r["weight"] for r in wdf.collect()}
    ref = _train_numpy(DOCS, dim, epochs, lr, l2, features)
    for b in range(dim):
        assert got.get(b, 0.0) == pytest.approx(ref[b], abs=1e-9)
    assert got[INTERCEPT_BUCKET] == pytest.approx(ref[dim], abs=1e-9)


def test_training_separates_classes(spark, docs):
    wdf = train_quality_classifier(docs, "y", dim=32, epochs=20, lr=1.0)
    scored = classifier_score(docs, wdf, dim=32, threshold=0.5)
    rows = {r["doc_id"]: r for r in scored.collect()}
    pos = [rows[i]["clf_score"] for i, _, y in DOCS if y == 1 and i != 6]
    neg = [rows[i]["clf_score"] for i, _, y in DOCS if y == 0]
    assert min(pos) > max(neg)
    assert rows[0]["clf_score_keep"] is True
    assert rows[1]["clf_score_keep"] is False


def test_score_matches_numpy(spark, docs):
    dim = 16
    wdf = train_quality_classifier(docs, "y", dim=dim, epochs=3, lr=0.5)
    ref = _train_numpy(DOCS, dim, 3, 0.5, 0.0, "binary")
    scored = {r["doc_id"]: r["clf_score"]
              for r in classifier_score(docs, wdf, dim=dim).collect()}
    for doc_id, text, _ in DOCS:
        feats = _featurize(text, dim, "binary")
        m = sum(v * ref[dim if b == INTERCEPT_BUCKET else b]
                for b, v in feats.items())
        assert scored[doc_id] == pytest.approx(1 / (1 + math.exp(-m)),
                                               abs=1e-9)


def test_empty_text_scores_intercept_only(spark, docs):
    wdf = train_quality_classifier(docs, "y", dim=16, epochs=2, lr=0.5)
    b = {r["bucket"]: r["weight"] for r in wdf.collect()}[INTERCEPT_BUCKET]
    scored = classifier_score(docs, wdf, dim=16).where(F.col("doc_id") == 6)
    assert scored.collect()[0]["clf_score"] == pytest.approx(
        1 / (1 + math.exp(-b)), abs=1e-12
    )


def test_hashed_bow_shapes(spark, docs):
    feats = hashed_bow(docs, dim=8, features="tf")
    rows = feats.where(F.col("doc_id") == 7).collect()
    by_bucket = {r["bucket"]: r["x"] for r in rows}
    the_bucket = _h32_py("the") % 8
    assert by_bucket[the_bucket] == 4.0  # "the the the the"
    assert by_bucket[INTERCEPT_BUCKET] == 1.0
    # empty doc: intercept row only
    empty = hashed_bow(docs, dim=8).where(F.col("doc_id") == 6).collect()
    assert [(r["bucket"], r["x"]) for r in empty] == [(INTERCEPT_BUCKET, 1.0)]


def test_null_labels_excluded(spark):
    rows = [(0, "good text here", 1), (1, "bad", 0), (2, "ignored doc", None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    wdf = train_quality_classifier(df, "y", dim=8, epochs=2, lr=0.5)
    ref = _train_numpy([r for r in rows if r[2] is not None], 8, 2, 0.5,
                       0.0, "binary")
    got = {r["bucket"]: r["weight"] for r in wdf.collect()}
    assert got[INTERCEPT_BUCKET] == pytest.approx(ref[8], abs=1e-9)


def test_param_validation(spark, docs):
    with pytest.raises(ValueError, match="dim"):
        train_quality_classifier(docs, "y", dim=0)
    with pytest.raises(ValueError, match="epochs"):
        train_quality_classifier(docs, "y", epochs=0)
    with pytest.raises(ValueError, match="lr"):
        train_quality_classifier(docs, "y", lr=0.0)
    with pytest.raises(ValueError, match="l2"):
        train_quality_classifier(docs, "y", l2=-1.0)
    with pytest.raises(ValueError, match="features"):
        hashed_bow(docs, features="tfidf")
    with pytest.raises(ValueError, match="no documents"):
        train_quality_classifier(docs.where(F.lit(False)), "y")


@pytest.mark.parametrize("features", ["binary", "tf"])
def test_inline_score_matches_join_path(spark, docs, features):
    from nested_pandas_spark.pipeline.classifier import (
        classifier_score_inline,
    )

    wdf = train_quality_classifier(docs, "y", dim=16, epochs=3, lr=0.7,
                                   features=features)
    join_path = {r["doc_id"]: r["clf_score"]
                 for r in classifier_score(docs, wdf, dim=16,
                                           features=features).collect()}
    inline = {r["doc_id"]: r["clf_score"]
              for r in classifier_score_inline(docs, wdf, dim=16,
                                               features=features).collect()}
    assert set(inline) == set(join_path)
    for k in join_path:
        assert inline[k] == pytest.approx(join_path[k], abs=1e-12), k


def test_inline_score_accepts_dict_and_validates(spark, docs):
    from nested_pandas_spark.pipeline.classifier import (
        classifier_score_inline,
    )

    wdf = train_quality_classifier(docs, "y", dim=8, epochs=2)
    wd = {r["bucket"]: r["weight"] for r in wdf.collect()}
    a = {r["doc_id"]: r["clf_score"]
         for r in classifier_score_inline(docs, wdf, dim=8).collect()}
    b = {r["doc_id"]: r["clf_score"]
         for r in classifier_score_inline(docs, wd, dim=8).collect()}
    assert a == b
    with pytest.raises(ValueError, match="inline"):
        classifier_score_inline(docs, wd, dim=8, features="log_tf")


def test_stream_quality_filter_matches_batch(spark, docs, tmp_path):
    """The streaming classifier filter must keep exactly the rows the
    batch inline path keeps, across two micro-batches (stateless: each
    copy scores identically)."""
    import shutil

    from nested_pandas_spark.pipeline.classifier import (
        classifier_score_inline,
    )
    from nested_pandas_spark.streaming.events import stream_quality_filter

    wdf = train_quality_classifier(docs, "y", dim=16, epochs=10, lr=1.0)
    wd = {r["bucket"]: r["weight"] for r in wdf.collect()}

    src = tmp_path / "docs_parquet"
    docs.write.parquet(str(src))
    d = tmp_path / "docs_stream"
    d.mkdir()
    for i, f in enumerate(sorted(src.glob("*.parquet"))):
        shutil.copy(f, d / f"a{i}.parquet")
        shutil.copy(f, d / f"b{i}.parquet")
    stream = (
        spark.readStream.option("maxFilesPerTrigger", "1")
        .schema(docs.schema)
        .parquet(str(d))
    )
    kept = stream_quality_filter(stream, wd, dim=16, threshold=0.5)
    q = (
        kept.writeStream.format("memory")
        .queryName("sqf")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {(r["doc_id"], round(r["clf_score"], 9))
           for r in spark.table("sqf").collect()}
    want = {
        (r["doc_id"], round(r["clf_score"], 9))
        for r in classifier_score_inline(docs, wd, dim=16, threshold=0.5)
        .where("clf_score_keep").collect()
    }
    assert got == want and got
