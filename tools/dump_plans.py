"""Dump the formatted explain output of declared queries and bench-shaped queries.

Usage:
  python tools/dump_plans.py <outdir> [--sf DIR] [--only name1,name2] [--bench]

Writes <outdir>/<query>_<tag>.txt (tag from --tag, default none). Declared
queries come from __spark_entry__.queries(); --bench adds the bench.py
headline query shapes (rebuilt here with the same operator calls).
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def bench_queries(spark, sf_dir: str, cpus: int):
    """The bench.py headline query DataFrames (same operator calls)."""
    from pyspark.sql import functions as F

    from nested_pandas_spark import NestedFrame, read_parquet

    def t(name):
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    def packed():
        li = t("lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
        return NestedFrame(t("orders")).join_nested(li, "items", on="o_orderkey")

    out = {}
    out["add_nested"] = packed().df.select(F.count("*"), F.sum(F.size("items")))
    out["query_nested"] = (packed().query("items.l_quantity > 30")
                           .df.select(F.sum(F.size("items"))))
    out["count_by"] = (packed()
                       .count_nested("items", by="l_returnflag", values=["A", "N", "R"])
                       .df.select(F.sum("n_items_A"), F.sum("n_items_N"),
                                  F.sum("n_items_R")))
    out["reduce_hof"] = (packed()
                         .nest_agg("items", "l_extendedprice", "mean", alias="m")
                         .df.select(F.avg("m")))
    import numpy as np
    out["reduce_udf"] = packed().map_rows(
        lambda price: float(np.mean(price)) if price is not None and len(price) else None,
        columns=["items.l_extendedprice"], output_names=["m"],
        output_schema="m double").df.select(F.avg("m"))
    out["sort_nested"] = (packed()
                          .sort_values(["items.l_shipdate", "items.l_linenumber"])
                          .df.select(F.sum(F.expr("items[0].l_linenumber"))))
    out["explode_roundtrip"] = (packed()
                                .to_flat("items", keys=["o_orderkey"])
                                .df.select(F.count("*"), F.sum("l_quantity")))
    packed_path = "/tmp/bench_packed.parquet"
    if os.path.isdir(packed_path):
        out["read_pruned"] = read_parquet(
            spark, packed_path, columns=["o_orderkey", "items.l_quantity"]
        ).select(F.sum(F.expr(
            "aggregate(transform(items, x -> x.l_quantity), CAST(0.0 AS DOUBLE), (a,v) -> a+v)"
        )))

    def ztf():
        ndf = packed().query("o_totalprice > 100000.0")
        ndf = ndf.query("items.l_quantity > 5")
        ndf = ndf.count_nested("items", by="l_returnflag", values=["A", "N", "R"])
        ndf = NestedFrame(ndf.df.where(F.col("n_items_A") >= 1))
        ndf = ndf.nest_agg("items", "l_extendedprice", "max", alias="mx")
        ndf = ndf.nest_agg("items", "l_extendedprice", "min", alias="mn")
        return ndf.df.select(F.avg(F.col("mx") - F.col("mn")))

    out["ztf_workflow"] = ztf()

    from nested_pandas_spark.pipeline import dedup as dd
    from nested_pandas_spark.pipeline import similarity as sim

    out["minhash_lsh"] = dd.lsh_candidate_pairs(
        t("documents"), "doc_id", num_hashes=8, bands=4, shingle_n=3)
    emb = t("embeddings")
    q = emb.where(F.col("vec_id") < 10)
    out["topk_cosine"] = sim.brute_force_topk(emb, q, k=5)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("outdir")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--only", default="")
    ap.add_argument("--tag", default="")
    ap.add_argument("--bench", action="store_true")
    ap.add_argument("--declared", action="store_true")
    args = ap.parse_args()
    os.makedirs(args.outdir, exist_ok=True)
    only = {s for s in args.only.split(",") if s}

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    from nested_pandas_spark import get_spark
    from nested_pandas_spark.plans.inspect import explain_text
    spark = get_spark("dump-plans", cpus=cpus)
    tag = f"_{args.tag}" if args.tag else ""

    targets = {}
    if args.declared:
        import __spark_entry__ as entry
        for name, fn in entry.queries().items():
            if only and name not in only:
                continue
            targets[name] = ("declared", fn)
    if args.bench:
        for name, df in bench_queries(spark, args.sf, cpus).items():
            if only and name not in only:
                continue
            targets[name] = ("bench", df)

    n_ok = n_err = 0
    for name, (kind, obj) in targets.items():
        try:
            df = obj(spark, args.sf) if kind == "declared" else obj
            text = explain_text(df, "formatted")
            with open(os.path.join(args.outdir, f"{name}{tag}.txt"), "w") as f:
                f.write(text)
            n_ok += 1
            print(f"ok  {name}", flush=True)
        except Exception:
            n_err += 1
            print(f"ERR {name}", flush=True)
            traceback.print_exc()
    print(f"done: {n_ok} ok, {n_err} err")


if __name__ == "__main__":
    main()
