"""The benchmark's ops. Each op is a chain of public library calls
(stages), then an action that brings a small result to the driver. Only
the stages and the action are timed; turning the result into an answer
and checking it against the oracle happen outside the timed region.

A stage names the per-layer self-time metric of the library module it
calls into, so the traced run can attribute time to that module.

Actions collect per-row columns through Arrow instead of running a global
aggregate, so an op shuffles only where the library itself shuffles.
"""

from __future__ import annotations

import functools
import math
import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

import nested_pandas_spark as nps
from nested_pandas_spark import NestedFrame
from nested_pandas_spark.pipeline import dedup, similarity

from oracle import (DEC_MIN, ERR_MAX, FLUX_CUT, PLANTED_RECALL_FLOOR, RECALL_FLOOR,
                    REL_TOL, SCORE_TIE, TOP_K)


@dataclass
class Stage:
    layer: str      # per-layer self-time metric, e.g. "packer.pack_s"
    call: str       # the public call the stage makes, for the span name
    fn: Callable[[Any], Any]
    executes: bool = False  # the call runs its own job (a write)


@dataclass
class Op:
    name: str
    rows: int       # input rows one execution processes
    stages: list[Stage]
    action: Callable[[Any], Any]              # timed: runs the job(s)
    answer: Callable[[Any], dict]             # untimed: result -> answer
    check: Callable[[dict], list[str]]        # answer -> mismatches


def frames(value: Any) -> list:
    """The Spark DataFrames a stage value holds (one, or a tuple of them)."""
    vals = value if isinstance(value, tuple) else (value,)
    return [v.df if isinstance(v, NestedFrame) else v for v in vals]


def collect(value: Any, *cols) -> dict[str, pa.ChunkedArray]:
    """Per-row columns of the op's output, through Arrow."""
    table = frames(value)[0].select(*cols).toArrow()
    return {name: table.column(name) for name in table.column_names}


def _sum(a: pa.ChunkedArray):
    """Sum of the non-null values (None when there are none)."""
    return pc.sum(a).as_py()


def _count_true(a: pa.ChunkedArray) -> int:
    return pc.sum(pc.fill_null(a, False).cast(pa.int64())).as_py() or 0


def check_fields(ans: dict, want: dict, exact: tuple, approx: tuple) -> list[str]:
    errs = [f"{k}: got {ans.get(k)!r}, want {want[k]!r}" for k in exact
            if ans.get(k) != want[k]]
    for k in approx:
        got, exp = ans.get(k), want[k]
        if (got is None) != (exp is None) or (
                got is not None and not math.isclose(got, exp, rel_tol=REL_TOL, abs_tol=1e-9)):
            errs.append(f"{k}: got {got!r}, want {exp!r}")
    return errs


def _wmean(flux: np.ndarray, err: np.ndarray) -> float:
    w = 1.0 / (err * err)
    return float((flux * w).sum() / w.sum())


# -- pack_flat ---------------------------------------------------------------

def pack_flat_ops(spark, data: str, work: str, oracle: dict, sizes: dict) -> list[Op]:
    obj_dir, src_dir = os.path.join(data, "objects"), os.path.join(data, "sources")
    rows = sizes["objects"] + sizes["sources"]
    out_dir = os.path.join(work, "pack_write")

    def read(_):
        return nps.read_parquet(spark, obj_dir), nps.read_parquet(spark, src_dir)

    def pack(sort_within=None):
        return Stage("packer.pack_s", "join_nested", lambda v: NestedFrame(v[0]).join_nested(
            v[1], "lc", on="id", sort_within=sort_within))

    def ztf_action(ndf):
        counts = sorted(c for c in ndf.columns if c.startswith("n_lc_"))
        return collect(ndf, *counts, "max_lc_flux", "min_lc_flux")

    def ztf_answer(c: dict) -> dict:
        return {"rows": len(c["max_lc_flux"]),
                **{f"n_{b}": _sum(c[f"n_lc_{b}"]) if f"n_lc_{b}" in c else 0 for b in "gri"},
                "sum_max": _sum(c["max_lc_flux"]), "sum_min": _sum(c["min_lc_flux"])}

    ztf = Op("ztf_chain", rows, [
        Stage("io.read_s", "read_parquet", read),
        pack(),
        Stage("expr.kernel_s", "query", lambda n: n.query(f"dec > {DEC_MIN}")),
        Stage("expr.kernel_s", "query", lambda n: n.query(f"lc.flux_err < {ERR_MAX}")),
        Stage("aggregates.kernel_s", "count_nested", lambda n: n.count_nested("lc", by="band")),
        Stage("aggregates.kernel_s", "nest_agg",
              lambda n: n.nest_agg("lc", "flux", "max").nest_agg("lc", "flux", "min")),
    ], ztf_action, ztf_answer,
        lambda a: check_fields(a, oracle["ztf_chain"], ("rows", "n_g", "n_r", "n_i"),
                               ("sum_max", "sum_min")))

    def write(ndf):
        ndf.to_parquet(out_dir)
        return out_dir

    def read_back(path: str) -> dict:
        import duckdb

        con = duckdb.connect()
        try:
            r = con.execute(
                "SELECT count(*), count(lc), coalesce(sum(len(lc)), 0), sum(lc[1].t) "
                f"FROM read_parquet('{os.path.join(path, '*.parquet')}')").fetchone()
        finally:
            con.close()
        return {"rows": r[0], "cells": r[1], "elements": int(r[2]), "sum_first_t": r[3]}

    pack_write = Op("pack_write", rows, [
        Stage("io.read_s", "read_parquet", read),
        pack(sort_within=["t"]),
        Stage("io.write_s", "to_parquet", write, executes=True),
    ], lambda path: path, read_back,
        lambda a: check_fields(a, oracle["pack_write"], ("rows", "cells", "elements"),
                               ("sum_first_t",)))

    explode = Op("pack_explode", rows, [
        Stage("io.read_s", "read_parquet", read),
        pack(),
        Stage("restructure.unpack_s", "to_flat", lambda n: n.to_flat("lc")),
    ], lambda n: collect(n, "flux"),
        lambda c: {"rows": len(c["flux"]), "sum_flux": _sum(c["flux"])},
        lambda a: check_fields(a, oracle["pack_explode"], ("rows",), ("sum_flux",)))
    # the pipeline's job chains ride along on a small corpus
    return [ztf, pack_write, explode] + corpus_ops(spark, data, work, oracle, sizes)


# -- nested_scan -------------------------------------------------------------

def nested_scan_ops(spark, data: str, work: str, oracle: dict, sizes: dict) -> list[Op]:
    path = os.path.join(data, "nested")

    def op(name, stage, cols, answer, exact, approx, columns=None):
        read = Stage("io.read_s", "read_parquet",
                     lambda _: NestedFrame(nps.read_parquet(spark, path, columns=columns)))
        return Op(name, sizes["elements"], [read, stage], lambda n: collect(n, *cols), answer,
                  lambda a: check_fields(a, oracle[name], exact, approx))

    first = F.col("lc")[0]
    return [
        op("filter_elements",
           Stage("expr.kernel_s", "query", lambda n: n.query(f"lc.flux > {FLUX_CUT}")),
           [F.size("lc").alias("n")],
           lambda c: {"rows": len(c["n"]), "kept_cells": _count_true(pc.greater(c["n"], 0)),
                      "kept_elements": _sum(pc.max_element_wise(c["n"], 0)) or 0},
           ("rows", "kept_cells", "kept_elements"), ()),
        op("reduce_hof",
           Stage("aggregates.kernel_s", "nest_agg", lambda n: n.nest_agg("lc", "flux", "mean")),
           ["mean_lc_flux"],
           lambda c: {"rows": len(c["mean_lc_flux"]), "sum_mean": _sum(c["mean_lc_flux"])},
           ("rows",), ("sum_mean",), columns=["id", "lc.flux"]),
        op("reduce_udf",
           Stage("map_rows.kernel_s", "map_rows", lambda n: n.map_rows(
               _wmean, ["lc.flux", "lc.flux_err"], output_names=["wmean"],
               output_schema="wmean double")),
           ["wmean"],
           lambda c: {"rows": len(c["wmean"]), "sum_wmean": _sum(c["wmean"])},
           ("rows",), ("sum_wmean",), columns=["id", "lc.flux", "lc.flux_err"]),
        op("sort_cells",
           Stage("sorting.kernel_s", "sort_values", lambda n: n.sort_values(["lc.band", "lc.t"])),
           [first["t"].alias("t0"), first["band"].alias("b0")],
           lambda c: {"rows": len(c["t0"]), "sum_first_t": _sum(c["t0"]),
                      "first_g": _count_true(pc.equal(c["b0"], "g"))},
           ("rows", "first_g"), ("sum_first_t",)),
        op("lc_features",
           Stage("timeseries.kernel_s", "lightcurve_features",
                 lambda n: n.lightcurve_features("lc", "t", "flux")),
           ["lc_feat_n", "lc_feat_amp"],
           lambda c: {"rows": len(c["lc_feat_n"]), "sum_n": _sum(c["lc_feat_n"]),
                      "sum_amp": _sum(c["lc_feat_amp"])},
           ("rows", "sum_n"), ("sum_amp",)),
        op("unpack",
           Stage("restructure.unpack_s", "to_flat", lambda n: n.to_flat("lc")),
           ["flux"],
           lambda c: {"rows": len(c["flux"]), "sum_flux": _sum(c["flux"])},
           ("rows",), ("sum_flux",)),
    ]


# -- corpus ------------------------------------------------------------------

def check_topk(ans: dict, want: dict, exact: bool) -> list[str]:
    """Exact answers must match id for id (near-ties excepted); approximate
    ones must be well formed and reach ``RECALL_FLOOR`` mean recall."""
    got = ans["top"]
    if set(got) != set(want):
        return [f"query ids: got {len(got)}, want {len(want)}"]
    errs = []
    for qid, w in want.items():
        ids = got[qid]
        if len(ids) != TOP_K or len(set(ids)) != TOP_K:
            errs.append(f"query {qid}: {len(ids)} rows, {len(set(ids))} distinct")
            continue
        if exact:
            score = dict(zip(w["ids"], w["scores"]))
            for rank, (g, e) in enumerate(zip(ids, w["ids"])):
                if g != e and abs(score.get(g, -2.0) - w["scores"][rank]) > SCORE_TIE:
                    errs.append(f"query {qid} rank {rank + 1}: got {g}, want {e}")
                    break
    if not exact and ans["recall_at_10"] < RECALL_FLOOR:
        errs.append(f"recall@10 {ans['recall_at_10']:.3f} < {RECALL_FLOOR}")
    return errs


def topk_answer(c: dict, want: dict) -> dict:
    top: dict[str, list] = {}
    rows = zip(*(c[k].to_pylist() for k in ("query_id", "neighbor_id", "rank")))
    for q, n, _ in sorted(rows,
                          key=lambda r: (r[0], r[2])):
        top.setdefault(str(q), []).append(n)
    recall = float(np.mean([len(set(top.get(q, [])) & set(w["ids"])) / TOP_K
                            for q, w in want.items()]))
    return {"top": top, "recall_at_10": recall}


def corpus_ops(spark, data: str, work: str, oracle: dict, sizes: dict) -> list[Op]:
    planted = {tuple(p) for p in oracle["lsh_pairs"]["planted"]}
    want = oracle["exact_topk"]["top"]
    docs, vecs, qs = (os.path.join(data, t) for t in ("docs", "vectors", "queries"))

    def lsh_answer(c: dict) -> dict:
        got = set(zip(c["id_a"].to_pylist(), c["id_b"].to_pylist()))
        found = len(got & planted)
        return {"candidate_pairs": len(got), "duplicates": len(c["id_a"]) - len(got),
                "planted_recall": found / len(planted),
                "misordered": sum(a >= b for a, b in got)}

    def lsh_check(a: dict) -> list[str]:
        errs = [f"{a[k]} {k} pairs" for k in ("duplicates", "misordered") if a[k]]
        if a["planted_recall"] < PLANTED_RECALL_FLOOR:
            errs.append(f"planted recall {a['planted_recall']:.3f} < {PLANTED_RECALL_FLOOR}")
        return errs

    def read_vectors(_):
        return spark.read.parquet(vecs), spark.read.parquet(qs)

    def topk_op(name, layer, call, fn):
        return Op(name, sizes["vectors"] + sizes["queries"], [
            Stage("io.read_s", "read.parquet", read_vectors),
            Stage(layer, call, lambda v: fn(v[0], v[1], k=TOP_K)),
        ], lambda df: collect(df, "query_id", "neighbor_id", "rank"),
            lambda c: topk_answer(c, want), lambda a: check_topk(a, want, name == "exact_topk"))

    return [
        Op("lsh_pairs", sizes["docs"], [
            Stage("io.read_s", "read.parquet", lambda _: spark.read.parquet(docs)),
            Stage("dedup.lsh_s", "lsh_candidate_pairs",
                  lambda d: dedup.lsh_candidate_pairs(d, "doc_id", "text")),
        ], lambda df: collect(df, "id_a", "id_b"), lsh_answer, lsh_check),
        # finer codes and a wider exact re-rank than the defaults, which
        # reach only ~0.4 recall@10 on these clusters
        topk_op("ivfpq_topk", "similarity.ivfpq_s", "ivfpq_topk",
                functools.partial(similarity.ivfpq_topk, n_sub=8, pq_centroids=16, refine=8)),
        topk_op("exact_topk", "similarity.exact_s", "brute_force_topk",
                similarity.brute_force_topk),
    ]


WORKLOADS = {"pack_flat": pack_flat_ops, "nested_scan": nested_scan_ops, "corpus": corpus_ops}


def run_op(op: Op) -> Any:
    """Build the chain and run the action: the timed part of one execution."""
    value = None
    for st in op.stages:
        value = st.fn(value)
    return op.action(value)
