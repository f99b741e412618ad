"""Expected answers for every benchmark op, computed independently of the
library under test: DuckDB over the generated parquet files for the frame
ops, numpy for the vector search. Computed once per (workload, seed,
shape) by ``gen.py`` and stored as ``oracle.json``.

Comparison rules, used by ``ops.py``:

* counts are exact;
* float sums agree within ``REL_TOL`` relative error (summation order
  differs between engines);
* a sorted cell is checked through its first element;
* top-k answers agree id for id, except where two neighbours' exact
  scores differ by less than ``SCORE_TIE`` (then either order is right);
* near-duplicate search must find at least ``PLANTED_RECALL_FLOOR`` of
  the planted pairs;
* approximate top-k must reach ``RECALL_FLOOR`` mean recall@10.
"""

from __future__ import annotations

import os

import numpy as np

REL_TOL = 1e-9
SCORE_TIE = 1e-9
PLANTED_RECALL_FLOOR = 0.8
RECALL_FLOOR = 0.5
TOP_K = 10

# op parameters shared with ops.py, so both sides ask the same question
DEC_MIN = -30.0
ERR_MAX = 4.0
FLUX_CUT = 110.0


def _scan(out: str, table: str) -> str:
    return f"read_parquet('{os.path.join(out, table, '*.parquet')}')"


def _one(con, sql: str) -> dict:
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    row = cur.fetchone()
    return {k: (float(v) if isinstance(v, float) else int(v) if v is not None else None)
            for k, v in zip(names, row)}


def pack_flat(con, out: str) -> dict:
    obj, src = _scan(out, "objects"), _scan(out, "sources")
    ztf = _one(con, f"""
        WITH s AS (
          SELECT id,
                 count(*) FILTER (WHERE band = 'g') AS g,
                 count(*) FILTER (WHERE band = 'r') AS r,
                 count(*) FILTER (WHERE band = 'i') AS i,
                 max(flux) AS mx, min(flux) AS mn
          FROM {src} WHERE flux_err < {ERR_MAX} GROUP BY id)
        SELECT count(*) AS rows, coalesce(sum(g), 0) AS n_g, coalesce(sum(r), 0) AS n_r,
               coalesce(sum(i), 0) AS n_i, sum(mx) AS sum_max, sum(mn) AS sum_min
        FROM {obj} o LEFT JOIN s USING (id) WHERE o.dec > {DEC_MIN}""")
    write = _one(con, f"""
        WITH s AS (SELECT id, count(*) AS n, min(t) AS t0 FROM {src} GROUP BY id)
        SELECT count(*) AS rows, count(s.id) AS cells, coalesce(sum(n), 0) AS elements,
               sum(t0) AS sum_first_t
        FROM {obj} o LEFT JOIN s USING (id)""")
    explode = _one(con, f"""
        SELECT count(*) AS rows, sum(flux) AS sum_flux
        FROM {src} s JOIN {obj} o USING (id)""")
    return {"ztf_chain": ztf, "pack_write": write, "pack_explode": explode, **corpus(con, out)}


def nested_scan(con, out: str) -> dict:
    con.execute(f"""CREATE TEMP VIEW el AS
        SELECT id, unnest(lc, recursive := true) FROM {_scan(out, 'nested')}""")
    per = """SELECT id,
                    count(*) FILTER (WHERE flux > {cut}) AS kept,
                    avg(flux) AS mean_flux,
                    sum(flux / (flux_err * flux_err)) / sum(1 / (flux_err * flux_err)) AS wmean,
                    first(t ORDER BY band, t) AS first_t,
                    first(band ORDER BY band, t) AS first_band,
                    count(*) AS n,
                    (max(flux) - min(flux)) / 2 AS amp,
                    sum(flux) AS sum_flux
             FROM el GROUP BY id""".format(cut=FLUX_CUT)
    agg = _one(con, f"""
        SELECT count(*) AS rows, count(*) FILTER (WHERE kept > 0) AS kept_cells,
               sum(kept) AS kept_elements,
               sum(mean_flux) AS sum_mean,
               sum(wmean) AS sum_wmean, sum(first_t) AS sum_first_t,
               count(*) FILTER (WHERE first_band = 'g') AS first_g,
               sum(n) AS elements, sum(amp) AS sum_amp, sum(sum_flux) AS sum_flux
        FROM ({per})""")
    return {
        "filter_elements": {k: agg[k] for k in ("rows", "kept_cells", "kept_elements")},
        "reduce_hof": {k: agg[k] for k in ("rows", "sum_mean")},
        "reduce_udf": {k: agg[k] for k in ("rows", "sum_wmean")},
        "sort_cells": {k: agg[k] for k in ("rows", "sum_first_t", "first_g")},
        "lc_features": {"rows": agg["rows"], "sum_n": agg["elements"], "sum_amp": agg["sum_amp"]},
        "unpack": {"rows": agg["elements"], "sum_flux": agg["sum_flux"]},
    }


def exact_topk(corpus_ids: np.ndarray, corpus: np.ndarray, q_ids: np.ndarray,
               queries: np.ndarray, k: int = TOP_K) -> dict:
    """Exact cosine top-k per query, ties broken by ascending id."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    cos = (q @ c.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(c, axis=1))
    out = {}
    for i, qid in enumerate(q_ids):
        order = np.lexsort((corpus_ids, -cos[i]))[:k]
        out[str(int(qid))] = {"ids": [int(x) for x in corpus_ids[order]],
                              "scores": [float(x) for x in cos[i, order]]}
    return out


def _vectors(con, out: str, table: str) -> tuple[np.ndarray, np.ndarray]:
    rows = con.execute(f"SELECT vec_id, embedding FROM {_scan(out, table)} ORDER BY vec_id").fetchall()
    return (np.array([r[0] for r in rows], np.int64),
            np.array([r[1] for r in rows], np.float32))


def corpus(con, out: str) -> dict:
    pairs = con.execute(f"""
        SELECT least(doc_id, dup_of), greatest(doc_id, dup_of)
        FROM {_scan(out, 'docs')} WHERE dup_of IS NOT NULL ORDER BY 1, 2""").fetchall()
    cid, cv = _vectors(con, out, "vectors")
    qid, qv = _vectors(con, out, "queries")
    top = exact_topk(cid, cv, qid, qv)
    return {
        "lsh_pairs": {"planted": [[int(a), int(b)] for a, b in pairs]},
        "ivfpq_topk": {"top": top},
        "exact_topk": {"top": top},
    }


def expected(workload: str, out: str, sizes: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        ans = {"pack_flat": pack_flat, "nested_scan": nested_scan, "corpus": corpus}[workload](con, out)
    finally:
        con.close()
    return ans
