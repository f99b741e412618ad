"""Corpus drift (pipeline/text.py corpus_divergence / divergent_tokens):
parity with a direct NumPy computation, structural properties."""

import math

import pytest

from nested_pandas_spark.pipeline.text import corpus_divergence, divergent_tokens
from nested_pandas_spark.plans.inspect import find_nodes


def _py_divergence(texts_a, texts_b, alpha=0.5):
    def counts(ts):
        c = {}
        for t in ts:
            for w in t.lower().split():
                c[w] = c.get(w, 0) + 1
        return c

    ca, cb = counts(texts_a), counts(texts_b)
    vocab = sorted(set(ca) | set(cb))
    na, nb, v = sum(ca.values()), sum(cb.values()), len(vocab)
    kl_ab = kl_ba = js = 0.0
    for w in vocab:
        p = (ca.get(w, 0) + alpha) / (na + alpha * v)
        q = (cb.get(w, 0) + alpha) / (nb + alpha * v)
        m = (p + q) / 2
        kl_ab += p * math.log(p / q)
        kl_ba += q * math.log(q / p)
        js += p / 2 * math.log(p / m) + q / 2 * math.log(q / m)
    return kl_ab, kl_ba, js, v, na, nb


TEXTS_A = ["the cat sat", "the dog ran far", "cat and dog"]
TEXTS_B = ["quantum flux capacitor", "the flux", "dog flux quantum"]


def _df(spark, texts):
    return spark.createDataFrame([(t,) for t in texts], "text string")


def test_matches_python(spark):
    row = corpus_divergence(_df(spark, TEXTS_A), _df(spark, TEXTS_B)).collect()[0]
    kl_ab, kl_ba, js, v, na, nb = _py_divergence(TEXTS_A, TEXTS_B)
    assert abs(row["kl_ab"] - kl_ab) < 1e-12
    assert abs(row["kl_ba"] - kl_ba) < 1e-12
    assert abs(row["js"] - js) < 1e-12
    assert (row["vocab"], row["tokens_a"], row["tokens_b"]) == (v, na, nb)


def test_identical_corpora_zero(spark):
    row = corpus_divergence(_df(spark, TEXTS_A), _df(spark, TEXTS_A)).collect()[0]
    assert abs(row["kl_ab"]) < 1e-12 and abs(row["js"]) < 1e-12


def test_js_bounded_and_symmetric(spark):
    a, b = _df(spark, TEXTS_A), _df(spark, TEXTS_B)
    r1 = corpus_divergence(a, b).collect()[0]
    r2 = corpus_divergence(b, a).collect()[0]
    assert abs(r1["js"] - r2["js"]) < 1e-12
    assert 0 <= r1["js"] <= math.log(2) + 1e-12
    assert r1["kl_ab"] > 0


def test_alpha_validation(spark):
    with pytest.raises(ValueError, match="alpha"):
        corpus_divergence(_df(spark, TEXTS_A), _df(spark, TEXTS_B), alpha=0)


def test_divergent_tokens_ranking(spark):
    out = divergent_tokens(
        _df(spark, TEXTS_A), _df(spark, TEXTS_B), k=3
    ).collect()
    tokens = [r["token"] for r in out]
    # 'flux' (0 vs 3) is the most b-skewed; log_odds negative for it
    assert len(tokens) == 3
    flux = next(r for r in out if r["token"] == "flux")
    assert flux["count_a"] == 0 and flux["count_b"] == 3
    assert flux["log_odds"] < 0
    # ranking is by |log_odds| descending
    scores = [abs(r["log_odds"]) for r in out]
    assert scores == sorted(scores, reverse=True)


def test_oov_rate(spark):
    from nested_pandas_spark.pipeline.text import oov_rate

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "quantum flux"),
            (3, ""),
            (4, None),
            (5, "THE Cat"),  # words() lower-cases before lookup
        ],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("sat",), ("mat",)], "word string"
    )
    rows = {r["doc_id"]: r for r in oov_rate(docs, vocab).collect()}
    assert (rows[1]["token_n"], rows[1]["oov_n"]) == (6, 1)  # only 'on'
    assert abs(rows[1]["oov_rate"] - 1 / 6) < 1e-12
    assert rows[2]["oov_rate"] == 1.0
    assert rows[3]["oov_rate"] == 0.0 and rows[3]["token_n"] == 0
    assert rows[4]["oov_rate"] is None and rows[4]["token_n"] is None
    assert rows[5]["oov_n"] == 0


def test_oov_rate_zero_shuffle_plan(spark):
    from nested_pandas_spark.pipeline.text import oov_rate

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    vocab = spark.createDataFrame([("a",)], "word string")
    # the doc side must not shuffle; the vocab rides as a broadcast one-row
    assert not find_nodes(oov_rate(docs, vocab), "Exchange", text="hashpartitioning")
