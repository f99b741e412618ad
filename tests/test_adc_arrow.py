"""Arrow ADC scan vs a plain-Python replay of its definition.

The PQ/IVFPQ candidate scan (``similarity._adc_scan_topk_arrow``) and the
all-pairs ADC surface (``similarity.pq_adc_scores``) must produce exactly
the doubles and rows the definition gives when replayed one float at a
time here:

- each LUT entry ``lut[s][c]`` = sum over the subspace's dimensions, left
  to right from 0.0, of ``(q_j - c_j) * (q_j - c_j)``
- each pair's distance = ``sum_s lut[s][code[s]]``, subspace-major, left to
  right from 0.0
- candidates ordered by (distance, id), the query's own id excluded
- rows with a NULL code, or a NULL cell in by-cell mode, skipped
- in the vector-carrying (inline) scan: each row's cell is its cosine
  argmax, ``dot / (sqrt(sum v*v) * sqrt(sum c*c))`` folded left to right
  (ties to the smaller id); its code is the per-subspace squared-L2 argmin
  (first minimum) of the vector, or of ``v - centroid[cell]`` for residual
  codes; each survivor carries ``-sum_j (q_j - v_j)^2`` folded left to
  right; rows with a NULL vector are skipped

Comparisons are ``==`` on doubles: the DuckDB oracles replay the same
summation order, so any drift in association would break them too.
End-to-end equality (store == inline, full-probe == ``pq_topk``) lives in
``test_pipeline.py``.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from nested_pandas_spark.pipeline import similarity as sim

N_SUB, D_SUB, N_CENT = 4, 3, 6
PER_Q = 5


def _replay_lut(qv, codebooks):
    d_sub = len(codebooks[0][0])
    lut = []
    for s, cb in enumerate(codebooks):
        row = []
        for cvec in cb:
            acc = 0.0
            for j in range(d_sub):
                d = qv[s * d_sub + j] - cvec[j]
                acc = acc + d * d
            row.append(acc)
        lut.append(row)
    return lut


def _replay_dist(lut, code):
    acc = 0.0
    for s in range(len(code)):
        acc = acc + lut[s][code[s]]
    return acc


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(7)
    return spark.createDataFrame(
        [(int(i), [float(x) for x in rng.normal(size=16)])
         for i in range(300)],
        "vec_id long, embedding array<float>",
    )


@pytest.fixture(scope="module")
def space():
    rng = np.random.default_rng(11)
    codebooks = [
        [[float(x) for x in rng.normal(size=D_SUB)] for _ in range(N_CENT)]
        for _ in range(N_SUB)
    ]
    queries = {
        qid: [float(x) for x in rng.normal(size=N_SUB * D_SUB)]
        for qid in (3, 17, 42)
    }
    centroids = [
        (cid, [float(x) for x in rng.normal(size=N_SUB * D_SUB)])
        for cid in range(3)
    ]
    rows = []
    for i in range(240):
        code = [int(c) for c in rng.integers(0, N_CENT, size=N_SUB)]
        cell = int(rng.integers(0, 3))
        if i % 37 == 5:
            code = None
        if i % 41 == 7:
            cell = None
        rows.append((i, code, cell))
    return codebooks, queries, centroids, rows


@pytest.fixture(scope="module")
def codes_df(spark, space):
    rows = space[3]
    return spark.createDataFrame(
        rows, "neighbor_id long, pq_code array<int>, __cid long"
    ).repartition(3)


def _topk(scored):
    """Per query: the PER_Q (id, -dist) pairs in (dist, id) order."""
    out = {}
    for qid, pairs in scored.items():
        ranked = sorted(pairs, key=lambda p: (p[1], p[0]))[:PER_Q]
        out[qid] = [(nid, -d) for nid, d in ranked]
    return out


def _kernel_topk(df):
    got = {}
    for r in df.collect():
        got.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], -r["cos_sim"]))
    return got, _topk(got)


def test_adc_scan_flat_matches_replay(codes_df, space):
    codebooks, queries, _, rows = space
    entries = [(qid, None, sim._lut_numpy(qv, codebooks))
               for qid, qv in queries.items()]
    for qid, _, lut in entries:
        assert lut.tolist() == _replay_lut(queries[qid], codebooks)

    want = {}
    for qid, qv in queries.items():
        lut = _replay_lut(qv, codebooks)
        want[qid] = [(nid, _replay_dist(lut, code))
                     for nid, code, _ in rows
                     if code is not None and nid != qid]

    got, got_top = _kernel_topk(sim._adc_scan_topk_arrow(
        codes_df.select("neighbor_id", "pq_code"), entries, PER_Q))
    exact = {qid: dict(pairs) for qid, pairs in want.items()}
    assert all(exact[qid][nid] == d
               for qid, pairs in got.items() for nid, d in pairs)
    assert got_top == _topk(want)


@pytest.mark.parametrize("residual", [False, True])
def test_adc_scan_by_cell_matches_replay(codes_df, space, residual):
    codebooks, queries, centroids, rows = space
    probes = {3: [0, 2], 17: [1], 42: [2, 1]}
    collected = [{"query_id": qid, "__qv": queries[qid], "__cids": probes[qid]}
                 for qid in queries]
    collected.append({"query_id": 99, "__qv": queries[3], "__cids": []})
    entries = sim._probe_lut_entries(collected, centroids, codebooks, residual)
    cents = dict(centroids)

    def query_lut(qid, cid):
        qv = queries[qid]
        if residual:
            qv = [a - b for a, b in zip(qv, cents[cid])]
        return _replay_lut(qv, codebooks)

    assert [(q, c) for q, c, _ in entries] == [
        (qid, cid) for qid in queries for cid in probes[qid]]
    for qid, cid, lut in entries:
        assert lut.tolist() == query_lut(qid, cid)

    want = {}
    for qid in queries:
        for cid in probes[qid]:
            lut = query_lut(qid, cid)
            want.setdefault(qid, []).extend(
                (nid, _replay_dist(lut, code))
                for nid, code, cell in rows
                if code is not None and cell == cid and nid != qid)

    got, got_top = _kernel_topk(sim._adc_scan_topk_arrow(
        codes_df, entries, PER_Q, cell_col="__cid"))
    exact = {qid: dict(pairs) for qid, pairs in want.items()}
    assert all(exact[qid][nid] == d
               for qid, pairs in got.items() for nid, d in pairs)
    assert got_top == _topk(want)


def _replay_cell(v, centroids):
    best = None
    for cid, c in sorted(centroids):
        dot, nv, nc = 0.0, 0.0, 0.0
        for x, y in zip(v, c):
            dot = dot + x * y
        for x in v:
            nv = nv + x * x
        for y in c:
            nc = nc + y * y
        cs = dot / (math.sqrt(nv) * math.sqrt(nc))
        if best is None or cs > best[0]:
            best = (cs, cid)
    return best[1]


def _replay_code(v, codebooks):
    d_sub = len(codebooks[0][0])
    code = []
    for s, cb in enumerate(codebooks):
        best = None
        for cid, cvec in enumerate(cb):
            acc = 0.0
            for j in range(d_sub):
                d = v[s * d_sub + j] - cvec[j]
                acc = acc + d * d
            if best is None or acc < best[0]:
                best = (acc, cid)
        code.append(best[1])
    return code


def _replay_l2sq(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return acc


@pytest.fixture(scope="module")
def vectors(spark):
    """(id, vector) rows with float32-exact values and a few NULL vectors."""
    rng = np.random.default_rng(5)
    rows = []
    for i in range(200):
        v = [float(np.float32(x)) for x in rng.normal(size=N_SUB * D_SUB)]
        rows.append((i, None if i % 29 == 4 else v))
    df = spark.createDataFrame(
        rows, "neighbor_id long, embedding array<float>").repartition(3)
    return rows, df


@pytest.mark.parametrize("shape", ["flat", "cells", "residual"])
def test_inline_scan_matches_replay(vectors, space, shape):
    codebooks, queries, centroids, _ = space
    rows, df = vectors
    by_cell = shape != "flat"
    cents = dict(centroids)
    probes = {3: [0, 2], 17: [1], 42: [2, 1]}
    if by_cell:
        collected = [{"query_id": q, "__qv": queries[q], "__cids": probes[q]}
                     for q in queries]
        entries = sim._probe_lut_entries(
            collected, centroids, codebooks, shape == "residual")
    else:
        entries = [(q, None, sim._lut_numpy(qv, codebooks))
                   for q, qv in queries.items()]

    want, exact = {}, {}
    for nid, v in rows:
        if v is None:
            continue
        cell = _replay_cell(v, centroids) if by_cell else None
        x = v
        if shape == "residual":
            x = [a - b for a, b in zip(v, cents[cell])]
        code = _replay_code(x, codebooks)
        for qid, qv in queries.items():
            if nid == qid or (by_cell and cell not in probes[qid]):
                continue
            lq = qv
            if shape == "residual":
                lq = [a - b for a, b in zip(qv, cents[cell])]
            want.setdefault(qid, []).append(
                (nid, _replay_dist(_replay_lut(lq, codebooks), code)))
            exact[(qid, nid)] = -_replay_l2sq(qv, v)

    out = sim._adc_scan_topk_arrow(
        df.select("neighbor_id", "embedding"), entries, PER_Q,
        vec_col="embedding", codebooks=codebooks,
        cents=centroids if by_cell else None,
        residual=shape == "residual",
        qvecs={q: np.asarray(v) for q, v in queries.items()},
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], -r["cos_sim"]))
        assert r["exact"] == exact[(r["query_id"], r["neighbor_id"])]
    adc = {qid: dict(pairs) for qid, pairs in want.items()}
    assert all(adc[qid][nid] == d
               for qid, pairs in got.items() for nid, d in pairs)
    assert _topk(got) == _topk(want)


def test_pq_adc_scores_matches_replay(emb):
    q = emb.where(F.col("vec_id") < 3)
    cbs = sim.pq_codebooks(emb, n_sub=4, n_centroids=8, n_iters=1)
    enc = sim.pq_encode(emb, cbs).select("vec_id", "pq_code")

    luts = {
        r["vec_id"]: _replay_lut(r["v"], cbs)
        for r in q.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ).collect()
    }
    want = {
        (qid, r["vec_id"]): _replay_dist(lut, r["pq_code"])
        for r in enc.collect() for qid, lut in luts.items()
    }
    got = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in sim.pq_adc_scores(enc, q, cbs).collect()
    }
    assert got.keys() == want.keys() and len(got) == 3 * 300
    assert all(got[k] == want[k] for k in want)


def test_append_rejects_wrong_dim_and_schema(emb, tmp_path):
    from nested_pandas_spark.sources.ivf_store import (
        append_ivf_index,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, n_centroids=4, n_iters=1)
    bad_dim = emb.select(
        "vec_id", F.slice("embedding", 1, 8).alias("embedding"))
    with pytest.raises(ValueError, match="dimensions"):
        append_ivf_index(bad_dim, path)
    bad_cols = emb.withColumn("extra", F.lit(1))
    with pytest.raises(ValueError, match="column set"):
        append_ivf_index(bad_cols, path)
