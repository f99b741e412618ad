"""T5 span corruption: Python-reference parity, reconstruction, plan shape."""

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from nested_pandas_spark.pipeline.masking import span_corrupt
from nested_pandas_spark.plans.inspect import find_nodes


def _py_span_corrupt(doc_id, text, p=0.15, seed=42):
    toks = [w for w in re.split(r"\s+", (text or "").lower()) if w]
    if not toks:
        return None
    thr = format(int(p * 16**8), "08x")
    masked = [
        hashlib.md5(f"{seed}:{doc_id}:{i}".encode()).hexdigest()[:8] < thr
        for i in range(len(toks))
    ]
    inp, tgt, k = [], [], 0
    for i, (w, m) in enumerate(zip(toks, masked)):
        if not m:
            inp.append(w)
        elif i == 0 or not masked[i - 1]:
            inp.append(f"<extra_id_{k}>")
            tgt.append(f"<extra_id_{k}> {w}")
            k += 1
        else:
            tgt.append(w)
    tgt.append(f"<extra_id_{k}>")
    return (doc_id, " ".join(inp), " ".join(tgt), k)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, " ".join(f"w{(i * 31 + j) % 97}" for j in range((i % 40) + 1)))
        for i in range(200)
    ]
    rows += [(900, None), (901, ""), (902, "   "), (903, "single")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_matches_python_reference(spark, docs):
    got = sorted(tuple(r) for r in span_corrupt(docs, "text").collect())
    pdf = docs.toPandas()
    want = sorted(
        r
        for r in (
            _py_span_corrupt(int(t.doc_id), t.text) for t in pdf.itertuples()
        )
        if r is not None
    )
    assert got == want


def test_empty_docs_dropped(spark, docs):
    ids = {r["doc_id"] for r in span_corrupt(docs, "text").select("doc_id").collect()}
    assert 900 not in ids and 901 not in ids and 902 not in ids
    assert 903 in ids


def test_reconstruction(spark, docs):
    """Interleaving input with target spans reproduces the original tokens."""
    for row in span_corrupt(docs, "text", noise_density=0.4).collect():
        spans = {}
        cur = None
        for t in row["target_text"].split(" "):
            m = re.fullmatch(r"<extra_id_(\d+)>", t)
            if m:
                cur = int(m.group(1))
                spans[cur] = []
            else:
                spans[cur].append(t)
        rebuilt = []
        for t in row["input_text"].split(" "):
            m = re.fullmatch(r"<extra_id_(\d+)>", t)
            rebuilt.extend(spans[int(m.group(1))] if m else [t])
        doc = docs.where(F.col("doc_id") == row["doc_id"]).collect()[0]
        orig = [w for w in re.split(r"\s+", doc["text"].lower()) if w]
        assert rebuilt == orig


def test_mask_rate_near_density(spark):
    df = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(50))) for i in range(100)],
        "doc_id long, text string",
    )
    out = span_corrupt(df, "text", noise_density=0.15)
    # masked token count = total target tokens minus sentinel tokens
    masked = out.select(
        F.sum(
            F.size(F.split("target_text", " "))
            - (F.col("n_spans") + 1)
        ).alias("n")
    ).collect()[0]["n"]
    assert abs(masked / (100 * 50) - 0.15) < 0.02


def test_zero_exchange_plan(spark, docs):
    # round 10: the explode + window + collect_list plan (1 Exchange
    # carrying the corpus's full token volume) became array-HOF
    # projections — nothing shuffles at all
    assert not find_nodes(span_corrupt(docs, "text"), "ShuffleExchange")


def test_density_validation(spark, docs):
    with pytest.raises(ValueError):
        span_corrupt(docs, "text", noise_density=0.0)
    with pytest.raises(ValueError):
        span_corrupt(docs, "text", noise_density=1.5)


# ------------------------------------------------ UL2 / prefix-LM


def _py_prefix_split(doc_id, text, seed=42, lo=0.25, hi=0.75):
    toks = [w for w in re.split(r"\s+", (text or "").lower()) if w]
    if not toks:
        return None
    n = len(toks)
    u = int(hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()[:8], 16) / 16**8
    if n <= 1:
        pivot = 0
    else:
        pivot = max(1, min(n - 1, int((lo + u * (hi - lo)) * n)))
    return (doc_id, " ".join(toks[:pivot]), " ".join(toks[pivot:]), n, pivot)


def test_prefix_lm_matches_python_reference(spark, docs):
    from nested_pandas_spark.pipeline.masking import prefix_lm_split

    got = {
        r["doc_id"]: tuple(r)
        for r in prefix_lm_split(docs).collect()
    }
    for row in docs.collect():
        want = _py_prefix_split(row["doc_id"], row["text"])
        if want is None:
            assert row["doc_id"] not in got
        else:
            assert got[row["doc_id"]] == want, row["doc_id"]


def test_prefix_lm_both_sides_nonempty(spark, docs):
    from nested_pandas_spark.pipeline.masking import prefix_lm_split

    rows = prefix_lm_split(docs).collect()
    for r in rows:
        assert r["target_text"] != ""          # suffix never empty
        if r["n_tokens"] >= 2:
            assert r["input_text"] != ""       # prefix empty only for n==1
        # reconstruction: prefix + suffix == original token stream
        joined = (r["input_text"] + " " + r["target_text"]).strip()
        assert len(joined.split()) == r["n_tokens"]


def test_prefix_lm_no_shuffle_plan(spark, docs):
    from nested_pandas_spark.pipeline.masking import prefix_lm_split

    assert not find_nodes(prefix_lm_split(docs), "Exchange")


def test_prefix_lm_validates_args(spark, docs):
    from nested_pandas_spark.pipeline.masking import prefix_lm_split

    with pytest.raises(ValueError):
        prefix_lm_split(docs, min_frac=0.8, max_frac=0.2)


def test_ul2_mix_assignment_and_shapes(spark, docs):
    from nested_pandas_spark.pipeline.masking import UL2_DEFAULT_MIX, ul2_mix

    rows = ul2_mix(docs).collect()
    by_id = {r["doc_id"]: r for r in rows}
    tokens = {t for t, _, _ in UL2_DEFAULT_MIX}
    for r in rows:
        assert r["denoiser"] in tokens
        assert r["input_text"].startswith(r["denoiser"] + " ")
        # deterministic assignment replay
        a = int(hashlib.md5(f"42:mix:{r['doc_id']}".encode()).hexdigest()[:8],
                16) % 3
        assert r["denoiser"] == UL2_DEFAULT_MIX[a][0]
        if r["denoiser"] == "[S]":
            assert r["n_spans"] is None
        else:
            assert r["n_spans"] >= 0
    # branch parity: the [R] rows equal span_corrupt(0.15) on that subset
    r_ids = [i for i, r in by_id.items() if r["denoiser"] == "[R]"]
    sub = docs.where(F.col("doc_id").isin(r_ids))
    want = {r["doc_id"]: r for r in span_corrupt(sub).collect()}
    for i in r_ids:
        assert by_id[i]["input_text"] == "[R] " + want[i]["input_text"]
        assert by_id[i]["target_text"] == want[i]["target_text"]


def test_ul2_every_nonempty_doc_appears_once(spark, docs):
    from nested_pandas_spark.pipeline.masking import ul2_mix

    out = ul2_mix(docs)
    n_docs = docs.where(
        F.size(F.expr(
            "filter(split(lower(coalesce(text, '')), '\\\\s+'), x -> x <> '')"
        )) > 0
    ).count()
    assert out.count() == n_docs
    assert out.select("doc_id").distinct().count() == n_docs
