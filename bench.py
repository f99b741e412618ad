"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The query set re-expresses the reference's ASV microbenchmarks and its ZTF
workflow notebook (BASELINE.md) on the driver's star schema:
  add_nested        ~ NestedFrameAddNested   (pack 600k lineitem under orders)
  add_nested_bucketed   same pack over bucketed-by-key storage (no exchange;
                        pay-once-at-ingest — the reference's in-memory analogue)
  query_nested      ~ NestedFrameQuery       (element filter)
  query_nested_bucketed same filter over the bucketed layout

Matched-ratio methodology (ratio.* in the JSON): the reference library is
an in-memory single-node engine — its timed region starts AFTER pandas has
loaded the parquet and set_index() has organized both frames by the join
key. Our bucketed variants are the storage-equal comparison (key
organization paid once at ingest, outside the timed region), so they are
the PRIMARY matched entries (ratio.per_query / ratio.matched_*). The
cold-scan variants time parquet scan + shuffle + pack end-to-end — work
the reference never performs inside its timed region — and are reported
as ratio.per_query_cold / ratio.matched_cold_* so the fixed-cost gap
stays visible without skewing the apples-to-apples number.

One fixture property bounds the cold rows: the testdata parquet files are
single-row-group, and a parquet row group is the unit of split — so every
cold scan's map side is ONE data-carrying task no matter how many byte-
range splits the planner makes (decomposed round 10: scan-metadata count
0.3 s, narrow groupBy 0.75 s, full-width pack shuffle 1.9 s, all gated by
that one task). Real inputs carry many row groups / files and fan out.
The session sets no small-file split floor; instead the CPU-heavy per-row
operators (shingling, sketch registers, media codecs) apply a data-sized
rescue at their own boundary (tuning._ensure_parallelism): a scan with
fewer than half as many splits as cores is round-robin repartitioned to
one task per ~64 KiB of input, floored at 2 and capped at the core count.
  count_by          ~ CountNestedBy          (per-category counts)
  reduce_hof        ~ NestedFrameReduce      (per-row mean, HOF fast path)
  reduce_udf        ~ NestedFrameReduce      (per-row mean via pandas UDF)
  sort_nested       (element sort, array_sort comparator)
  explode_roundtrip (pack -> inline -> count)
  read_pruned       ~ ReadFewColumns         (nested-leaf parquet pruning)
  ztf_workflow      ~ docs/pre_executed/performance.ipynb end-to-end chain
  minhash_lsh       (dedup candidate pairs on documents)
  topk_cosine       (brute-force ANN baseline on embeddings)

Each query runs end-to-end (parquet scan -> operators -> small aggregate) and
is forced with a collect of a tiny result; times are per-query wall seconds
on a warmed session.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from pyspark.sql import functions as F

REF_SRC = "/root/reference/src/nested_pandas"


def _time_reference(sf_dir: str) -> dict | None:
    """Time the reference library (nested-pandas, imported from the local
    reference checkout with shims for its absent optional deps) on the SAME
    parquet tables, per matched microbenchmark — so every BENCH_r{N}.json
    carries the ours-vs-reference ratio instead of relying on a one-off
    manual measurement. Returns {query: best_sec} or None when the
    reference isn't importable here. Tables are pre-loaded into pandas
    untimed (the reference is an in-memory engine; its yardstick is
    operator time, not parquet decode)."""
    if not os.path.isdir(REF_SRC):
        return None
    import shutil
    import sys
    import tempfile

    shim = tempfile.mkdtemp(prefix="bench_refshim_")
    try:
        shutil.copytree(REF_SRC, os.path.join(shim, "nested_pandas"))
        with open(os.path.join(shim, "nested_pandas", "_version.py"), "w") as f:
            f.write('__version__ = version = "0.0.0-local"\n'
                    "__version_tuple__ = version_tuple = (0, 0, 0)\n")
        os.makedirs(os.path.join(shim, "deprecated"))
        with open(os.path.join(shim, "deprecated", "__init__.py"), "w") as f:
            f.write(
                "def deprecated(*dargs, **dkwargs):\n"
                "    if len(dargs) == 1 and callable(dargs[0]) and not dkwargs:\n"
                "        return dargs[0]\n"
                "    def wrap(fn):\n"
                "        return fn\n"
                "    return wrap\n"
            )
        os.makedirs(os.path.join(shim, "fsspec"))
        with open(os.path.join(shim, "fsspec", "__init__.py"), "w") as f:
            f.write("class AbstractFileSystem: ...\n"
                    "def filesystem(*a, **k):\n    raise NotImplementedError\n"
                    "from . import parquet\n")
        with open(os.path.join(shim, "fsspec", "parquet.py"), "w") as f:
            f.write("def open_parquet_file(path, **k):\n"
                    "    return open(path, 'rb')\n")
        os.makedirs(os.path.join(shim, "upath"))
        with open(os.path.join(shim, "upath", "__init__.py"), "w") as f:
            f.write("import pathlib\n"
                    "class UPath(type(pathlib.Path())):\n"
                    "    protocol = ''\n"
                    "    fs = None\n"
                    "    @property\n"
                    "    def path(self):\n"
                    "        return str(self)\n")
        sys.path.insert(0, shim)
        try:
            import warnings

            import numpy as np
            import pandas as pd

            import nested_pandas as npd
            from nested_pandas.utils import count_nested

            # np.mean over the reference's empty cells warns; keep the
            # bench stream clean
            warnings.simplefilter("ignore", RuntimeWarning)

            orders = pd.read_parquet(f"{sf_dir}/orders.parquet").set_index(
                "o_orderkey"
            )
            li = (
                pd.read_parquet(f"{sf_dir}/lineitem.parquet")
                .rename(columns={"l_orderkey": "o_orderkey"})
                .set_index("o_orderkey")
            )

            out = {}

            def bench(name, fn, runs=3):
                best = float("inf")
                for _ in range(runs):
                    t0 = time.perf_counter()
                    fn()
                    best = min(best, time.perf_counter() - t0)
                out[name] = round(best, 4)

            def pack():
                return npd.NestedFrame(orders).join_nested(li, "items")

            bench("add_nested", lambda: pack()["items"].nest.flat_length)
            bench("query_nested", lambda: pack()
                  .query("items.l_quantity > 30")["items"].nest.flat_length)
            bench("count_by", lambda: count_nested(
                pack(), "items", by="l_returnflag")[
                    ["n_items_A", "n_items_N", "n_items_R"]].sum())
            bench("reduce", lambda: pack()
                  .reduce(np.mean, "items.l_extendedprice").mean())
            bench("explode_roundtrip", lambda: pack()["items"]
                  .nest.to_flat()["l_quantity"].sum())

            def ztf():
                ndf = pack().query("o_totalprice > 100000.0")
                ndf = ndf.query("items.l_quantity > 5")
                ndf = count_nested(ndf, "items", by="l_returnflag", join=True)
                ndf = ndf[ndf["n_items_A"] >= 1]
                mx = ndf.reduce(np.max, "items.l_extendedprice")
                mn = ndf.reduce(np.min, "items.l_extendedprice")
                return float((mx[0] - mn[0]).mean())

            bench("ztf_workflow", ztf)
            return out
        finally:
            sys.path.remove(shim)
            sys.modules.pop("nested_pandas", None)
    except Exception:  # noqa: BLE001 - ratio is best-effort observability
        return None
    finally:
        shutil.rmtree(shim, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)

    from nested_pandas_spark import NestedFrame, get_spark, read_parquet
    from nested_pandas_spark.pipeline import dedup as dd
    from nested_pandas_spark.pipeline import similarity as sim
    from nested_pandas_spark.plans.inspect import plan_nodes

    spark = get_spark("bench", cpus=cpus)

    def t(name):  # tables
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    def packed():
        li = t("lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
        return NestedFrame(t("orders")).join_nested(li, "items", on="o_orderkey")

    # -- setup (untimed): a packed parquet for the pruned-read benchmark ----
    packed_path = "/tmp/bench_packed.parquet"
    packed().df.write.mode("overwrite").parquet(packed_path)

    # -- setup (untimed): bucketed-by-join-key tables for the shuffle-free
    # pack variants. The reference is an IN-MEMORY engine — its add_nested
    # starts from pre-loaded, index-organized frames — so the bucketed
    # layout (pay the partitioning once at ingest) is the storage-equal
    # comparison; the plain variants keep paying scan+shuffle per query.
    from nested_pandas_spark.sources.bucketing import read_bucketed, write_bucketed

    bkt = {"orders": "bench_orders_bkt", "lineitem": "bench_lineitem_bkt"}
    for name, tbl in bkt.items():
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        src = (t(name).withColumnRenamed("l_orderkey", "o_orderkey")
               if name == "lineitem" else t(name))
        write_bucketed(src, tbl, "o_orderkey", num_buckets=cpus,
                       sort_by="o_orderkey", path=f"/tmp/{tbl}")

    def packed_bucketed():
        return NestedFrame(read_bucketed(spark, bkt["orders"])).join_nested(
            read_bucketed(spark, bkt["lineitem"]), "items", on="o_orderkey")

    # warm-up: JVM, parquet footers, codegen
    packed().df.select(F.sum(F.size("items"))).collect()
    # warm the Python worker fleet (process spawn + Arrow/pandas import per
    # worker) so UDF queries measure throughput, not one-time startup
    par = spark.sparkContext.defaultParallelism
    spark.range(par * 4).repartition(par).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    queries = {}
    rows = {}
    checksums = {}

    # best-of-3: single-run wall times on a virtualized host vary up to 2x
    # on an identical plan (hypervisor noise); min-of-3 recovers the true
    # cost. Measured example: the same add_nested collect 4 times in one
    # session -> 2.34, 2.15, 2.00, 3.81 s.
    def bench(name, fn, runs=3):
        best = float("inf")
        res = None
        for _ in range(runs):
            start = time.perf_counter()
            res = fn()
            best = min(best, time.perf_counter() - start)
        queries[name] = round(best, 4)
        # result provenance: row count + value digest make round-over-round
        # regressions attributable (same digest == same work done)
        if isinstance(res, int):
            rows[name] = res
            checksums[name] = hashlib.md5(str(res).encode()).hexdigest()[:8]
        elif res is not None:
            rows[name] = len(res)
            checksums[name] = hashlib.md5(
                "|".join(sorted(repr(r) for r in res)).encode()
            ).hexdigest()[:8]

    bench("add_nested", lambda: packed().df.select(
        F.count("*"), F.sum(F.size("items"))).collect())

    bench("query_nested", lambda: packed()
          .query("items.l_quantity > 30")
          .df.select(F.sum(F.size("items"))).collect())

    # same operators over the bucketed layout: the pack's groupBy and join
    # read pre-partitioned buckets, so the per-query shuffle disappears —
    # the honest storage-layout analogue of the reference's in-memory start
    bench("add_nested_bucketed", lambda: packed_bucketed().df.select(
        F.count("*"), F.sum(F.size("items"))).collect())

    bench("query_nested_bucketed", lambda: packed_bucketed()
          .query("items.l_quantity > 30")
          .df.select(F.sum(F.size("items"))).collect())

    bench("count_by", lambda: packed()
          .count_nested("items", by="l_returnflag", values=["A", "N", "R"])
          .df.select(F.sum("n_items_A"), F.sum("n_items_N"), F.sum("n_items_R"))
          .collect())

    bench("reduce_hof", lambda: packed()
          .nest_agg("items", "l_extendedprice", "mean", alias="m")
          .df.select(F.avg("m")).collect())

    def reduce_udf():
        import numpy as np

        out = packed().map_rows(
            lambda price: float(np.mean(price)) if price is not None and len(price) else None,
            columns=["items.l_extendedprice"],
            output_names=["m"],
            output_schema="m double",
            # no repartition: the pack's groupBy shuffle already spreads the
            # rows across the session's cores; a second full shuffle of the
            # packed arrays costs more than it buys (measured equal steady-
            # state at sf0.1, and strictly worse at scale)
        )
        return out.df.select(F.avg("m")).collect()

    bench("reduce_udf", reduce_udf)

    bench("sort_nested", lambda: packed()
          .sort_values(["items.l_shipdate", "items.l_linenumber"])
          .df.select(F.sum(F.expr("items[0].l_linenumber"))).collect())

    bench("explode_roundtrip", lambda: packed()
          .to_flat("items", keys=["o_orderkey"])
          .df.select(F.count("*"), F.sum("l_quantity")).collect())

    bench("read_pruned", lambda: read_parquet(
        spark, packed_path, columns=["o_orderkey", "items.l_quantity"])
        .select(F.sum(F.expr(
            "aggregate(transform(items, x -> x.l_quantity), CAST(0.0 AS DOUBLE), (a,v) -> a+v)"
        ))).collect())

    def ztf_workflow():
        # reference performance.ipynb chain: read 2 tables, pack, object
        # filter, element filter, per-band counts, count filter, amplitude
        ndf = packed().query("o_totalprice > 100000.0")
        ndf = ndf.query("items.l_quantity > 5")
        ndf = ndf.count_nested("items", by="l_returnflag", values=["A", "N", "R"])
        ndf = NestedFrame(ndf.df.where(F.col("n_items_A") >= 1))
        ndf = ndf.nest_agg("items", "l_extendedprice", "max", alias="mx")
        ndf = ndf.nest_agg("items", "l_extendedprice", "min", alias="mn")
        return ndf.df.select(F.avg(F.col("mx") - F.col("mn"))).collect()

    bench("ztf_workflow", ztf_workflow)

    bench("minhash_lsh", lambda: dd.lsh_candidate_pairs(
        t("documents"), "doc_id", num_hashes=8, bands=4, shingle_n=3).count())

    def topk():
        emb = t("embeddings")
        q = emb.where(F.col("vec_id") < 10)
        return sim.brute_force_topk(emb, q, k=5).count()

    bench("topk_cosine", topk)

    # -- ANN quality: mean recall@10 of each approximate index against the
    # exact baseline on the same query sample, recorded EVERY round so
    # quality regressions are as visible as speed regressions (an ANN
    # tweak that got faster by returning worse neighbors must show up
    # here). Untimed — quality numbers, not throughput.
    def _mean_recall(approx_df, exact_df) -> float:
        r = sim.recall_at_k(approx_df, exact_df).agg(
            F.avg("recall").alias("r")).collect()[0]["r"]
        return round(float(r), 4)

    emb_r = t("embeddings")
    qs_r = emb_r.where(F.col("vec_id") < 10)
    exact10 = sim.brute_force_topk(emb_r, qs_r, k=10)
    recall = {
        "lsh@10": _mean_recall(
            sim.lsh_topk(emb_r, qs_r, k=10, num_planes=4, num_tables=2),
            exact10),
        "ivf@10": _mean_recall(
            sim.ivf_topk(emb_r, qs_r, k=10, n_centroids=8, n_probe=3,
                         n_iters=2),
            exact10),
        "pq@10": _mean_recall(
            sim.pq_topk(emb_r, qs_r, k=10, n_sub=4, n_centroids=8,
                        refine=4),
            exact10),
        "ivfpq@10": _mean_recall(
            sim.ivfpq_topk(emb_r, qs_r, k=10, n_centroids=8, n_probe=3,
                           n_sub=4, pq_centroids=8, refine=4,
                           n_iters=1, pq_iters=1),
            exact10),
    }

    # -- planted-cluster recall: the driver embeddings are isotropic random
    # vectors (pairwise cos ~ N(0, 0.13)) — an information-theoretic worst
    # case where ANY index scores near-random, so the numbers above are
    # only an adversarial lower bound. This fixture plants the structure an
    # index is SUPPOSED to exploit (64 clusters + near-dup pairs); recall
    # here is the signal-bearing number, floor-asserted in
    # tests/test_pipeline.py::test_planted_cluster_recall_floors.
    from nested_pandas_spark.datasets import generate_clustered_embeddings

    emb_c = generate_clustered_embeddings(
        spark, n_clusters=64, per_cluster=32, dim=64, seed=7
    ).cache()
    qs_c = emb_c.where(F.col("vec_id") < 10)
    exact_c = sim.brute_force_topk(emb_c, qs_c, k=10)
    # operating points: lsh at 7 planes x 8 tables + multi_probe 6 (probes
    # ~5.5% of buckets per table, ~1/3 of the corpus overall — a real
    # index, not a scan); ivfpq at residual=True (FAISS IVFADC default —
    # codes quantize cell residuals). The fixture is unit-normalized so L2
    # (PQ/ADC) and cosine (IVF/LSH) rankings share one ground truth.
    recall_clustered = {
        "lsh@10": _mean_recall(
            sim.lsh_topk(emb_c, qs_c, k=10, num_planes=7, num_tables=8,
                         multi_probe=6),
            exact_c),
        "ivf@10": _mean_recall(
            sim.ivf_topk(emb_c, qs_c, k=10, n_centroids=64, n_probe=4,
                         n_iters=2),
            exact_c),
        # pq at 8 subquantizers x 16 centroids = 32 bits/vector (64x
        # compression vs float32): measured 0.86 vs 0.59 at the old
        # n_sub=4 point AT THE SAME RUNTIME — 4 sub-spaces over 64 dims
        # was under-coded, not a PQ ceiling
        "pq@10": _mean_recall(
            sim.pq_topk(emb_c, qs_c, k=10, n_sub=8, n_centroids=16,
                        refine=4, n_iters=1),
            exact_c),
        "ivfpq@10": _mean_recall(
            sim.ivfpq_topk(emb_c, qs_c, k=10, n_centroids=64, n_probe=4,
                           n_sub=4, pq_centroids=16, refine=4,
                           n_iters=2, pq_iters=1, residual=True),
            exact_c),
        "ivfpq_nonres@10": _mean_recall(
            sim.ivfpq_topk(emb_c, qs_c, k=10, n_centroids=64, n_probe=4,
                           n_sub=4, pq_centroids=16, refine=4,
                           n_iters=2, pq_iters=1, residual=False),
            exact_c),
    }
    emb_c.unpersist()

    # -- beyond-reference extras: timed for visibility, kept OUT of the
    # headline total so round-over-round totals stay comparable ---------
    #
    # MEASUREMENT ISOLATION (round-7 verdict: extras drifted +12-48%
    # between rounds with headline flat and no plan changes — session
    # drift was unfalsifiable): the extras now run in a FRESH Spark
    # session (restarted below, so hours of accumulated JVM/codegen/GC
    # state from the headline suite can't inflate them), and a frozen
    # CONTROL workload is timed immediately before and after the block.
    # If control_post/control_pre drifts, the session degraded DURING
    # the extras and the numbers carry that caveat in-band; if a future
    # round's extras inflate while its control matches this round's
    # control, the regression is real.
    def _restart_session():
        nonlocal spark
        spark.stop()
        spark = get_spark("bench-extras", cpus=cpus)
        par2 = spark.sparkContext.defaultParallelism
        spark.range(par2 * 4).repartition(par2).mapInPandas(
            lambda it: it, schema="id long"
        ).count()
        t("lineitem").count()  # footer/codegen warm-up

    def _control():
        return t("lineitem").groupBy("l_returnflag").agg(
            F.sum("l_quantity")).collect()

    def _time_best(fn, runs=2):
        best = float("inf")
        for _ in range(runs):
            start = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - start)
        return round(best, 4)

    _restart_session()
    extras_control = {"pre": _time_best(_control, runs=3)}

    extras = {}

    # SPARK_GRAFT_BENCH_FAMILY=prefix1,prefix2 runs only the matching
    # extras — the per-family isolation knob (round-8 verdict: cross-round
    # extras comparisons need timings from sessions that aren't also
    # running 60 other extras; run one family per process and compare
    # against the load index below).
    _family = [p for p in os.environ.get(
        "SPARK_GRAFT_BENCH_FAMILY", "").split(",") if p]

    def bench_extra(name, fn, runs=2):
        if _family and not any(name.startswith(p) for p in _family):
            return
        best = float("inf")
        for _ in range(runs):
            start = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - start)
        extras[name] = round(best, 4)

    def x_asof():
        from nested_pandas_spark.operators.asof import asof_join

        ev = t("events")
        ts = (F.expr("ts div 1000") if dict(ev.dtypes).get("ts") == "bigint"
              else F.unix_micros(F.col("ts").cast("timestamp"))).alias("ts")
        clicks = ev.where("event_type = 'click'").select("event_id", "user_id", ts)
        signups = ev.where("event_type = 'signup'").select(
            "user_id", ts, F.col("event_id").alias("sid"))
        return asof_join(clicks, signups, on="user_id", ts="ts",
                         right_cols=["sid"]).count()

    bench_extra("asof_join", x_asof)

    def x_clean():
        from nested_pandas_spark.pipeline.corpus import clean_corpus

        return clean_corpus(t("documents"), min_quality=0.2,
                            num_hashes=8, bands=4).count()

    bench_extra("clean_corpus", x_clean)

    def x_pack_seq():
        from nested_pandas_spark.pipeline.corpus import pack_sequences

        return pack_sequences(t("documents"), 2048,
                              tokens_col="n_chars").count()

    bench_extra("pack_sequences", x_pack_seq)

    # df threshold scales with corpus size (q63 uses 380 of 500 docs)
    n_docs = t("documents").count()

    def x_strip_lines():
        from nested_pandas_spark.pipeline.corpus import strip_boilerplate_lines

        return strip_boilerplate_lines(
            t("documents"), sep=" ", min_df=int(n_docs * 0.76)
        ).select(F.sum("n_removed")).collect()

    bench_extra("strip_lines", x_strip_lines)

    def x_ivf():
        emb = t("embeddings")
        q = emb.where(F.col("vec_id") < 10)
        # q31's configuration: two Lloyd rounds, then the corpus and
        # query assignment passes and the probe join
        return sim.ivf_topk(emb, q, k=5, n_centroids=8, n_probe=3,
                            n_iters=2).count()

    bench_extra("ivf_refined_topk", x_ivf)

    def x_rebin():
        from nested_pandas_spark import pack, rebin

        ev = t("events").select("user_id", "ts", "value")
        width = 86_400 * (10**9 if dict(ev.dtypes)["ts"] == "bigint"
                          else 10**6)
        nf = pack(ev, "series", on="user_id")
        return rebin(nf, "series", "ts", width=width,
                     value_fields=["value"]).select(
            F.sum(F.size("series_binned"))).collect()

    bench_extra("rebin_daily", x_rebin)

    def x_crossmatch():
        from nested_pandas_spark.operators.crossmatch import crossmatch

        def xy(df, key):
            h = lambda salt: (  # noqa: E731
                F.conv(F.substring(F.md5(F.concat_ws(
                    ":", F.col(key).cast("string"), F.lit(salt))),
                    1, 8), 16, 10).cast("long") / F.lit(2**32) * 100.0
            )
            return df.select(F.col(key), h("x").alias("x"), h("y").alias("y"))

        return crossmatch(xy(t("supplier"), "s_suppkey"),
                          xy(t("customer"), "c_custkey"),
                          "s_suppkey", "c_custkey", radius=5.0, k=2).count()

    bench_extra("crossmatch", x_crossmatch)

    def x_tfidf():
        from nested_pandas_spark.pipeline.text import hashed_tfidf

        return hashed_tfidf(t("documents"), dim=64).count()

    bench_extra("hashed_tfidf", x_tfidf)

    def x_lightcurve():
        # composite time-domain workflow: clip outliers -> fold on a weekly
        # period -> bin the phase -> fit a per-user trend, all per-cell HOFs
        from nested_pandas_spark import (
            pack, phase_fold, rebin, sigma_clip, trend_slope,
        )

        ev = t("events").select("user_id", "ts", "value")
        day = 86_400 * (10**9 if dict(ev.dtypes)["ts"] == "bigint" else 10**6)
        nf = pack(ev, "series", on="user_id", sort_within=["ts"])
        clipped = sigma_clip(nf, "series", "value", sigma=3.0)
        folded = phase_fold(clipped, "series", "ts", period=7 * day)
        binned = rebin(folded, "series", "phase", width=0.125,
                       value_fields=["value"])
        fitted = trend_slope(binned, "series", "ts", "value", time_scale=day)
        return fitted.select(
            F.count("*"), F.sum("series_slope"),
            F.sum(F.size("series_binned")),
        ).collect()

    bench_extra("lightcurve_workflow", x_lightcurve)

    def x_periodogram():
        # 16-frequency Lomb-Scargle sweep per user: the dense per-cell trig
        # workload (O(n_freq * n) HOFs, zero shuffle beyond the pack)
        from nested_pandas_spark import pack, periodogram

        ev = t("events").select("user_id", "ts", "value")
        day = 86_400 * (10**9 if dict(ev.dtypes)["ts"] == "bigint" else 10**6)
        nf = pack(ev, "series", on="user_id", sort_within=["ts"])
        freqs = [0.125 * (i + 1) for i in range(16)]
        out = periodogram(nf, "series", "ts", "value", freqs,
                          time_scale=float(day), best=True)
        return out.select(F.count("*"), F.sum("series_pgram_power")).collect()

    bench_extra("periodogram", x_periodogram)

    def x_dedup_passages():
        # exact substring dedup: window-hash expansion + ownership ranking
        from nested_pandas_spark.pipeline.dedup import dedup_passages

        return dedup_passages(t("documents"), window=8).select(
            F.count("*"), F.sum("n_removed")).collect()

    bench_extra("dedup_passages", x_dedup_passages)

    def x_lc_features():
        # the 8-feature variability vector: one HOF pass per user series
        from nested_pandas_spark import lightcurve_features, pack

        ev = t("events").select("user_id", "ts", "value")
        day = 86_400 * (10**9 if dict(ev.dtypes)["ts"] == "bigint" else 10**6)
        nf = pack(ev, "series", on="user_id", sort_within=["ts"])
        out = lightcurve_features(nf, "series", "ts", "value",
                                  time_scale=float(day))
        return out.select(
            F.count("*"), F.sum("series_feat_amp"),
            F.sum("series_feat_eta")).collect()

    bench_extra("lightcurve_features", x_lc_features)

    def x_ivfpq():
        # the composed IVFx,PQy index: coarse pruning + code-space ADC +
        # exact rerank — the realistic billion-scale ANN shape
        emb = t("embeddings")
        q = emb.where(F.col("vec_id") < 10)
        return sim.ivfpq_topk(emb, q, k=5, n_centroids=8, n_probe=3,
                              n_sub=4, pq_centroids=8, refine=4,
                              n_iters=1, pq_iters=1).count()

    bench_extra("ivfpq_topk", x_ivfpq)

    def x_ivf_largek():
        # the large-centroid-count path: 256 centroids exceeds
        # _HOF_CENTROID_MAX, so the assignment pass scores with one BLAS
        # product per batch instead of the fold — the regime a real
        # 100 TB IVF (10^4-10^5 centroids) lives in
        emb = t("embeddings")
        q = emb.where(F.col("vec_id") < 10)
        return sim.ivf_topk(emb, q, k=5, n_centroids=256, n_probe=16,
                            n_iters=1).count()

    bench_extra("ivf_topk_c256", x_ivf_largek)

    def x_winnow():
        # MOSS winnowing fingerprints + shared-fingerprint pair matching
        return dd.winnow_near_pairs(
            t("documents"), k=3, window=4, min_shared=2,
            max_posting=64).count()

    bench_extra("winnow_near_pairs", x_winnow)

    def x_chunk():
        from nested_pandas_spark.pipeline.corpus import chunk_documents
        return chunk_documents(t("documents"), 64, 48).select(
            F.count("*"), F.sum("n_tokens")).collect()

    bench_extra("chunk_documents", x_chunk)

    def x_train_clf():
        # distributed full-batch GD: per epoch, one broadcast of dim+1
        # weights out and one map-side-combined dim+1-row gradient back.
        # r8->r10 drift (1.83 -> ~2.5 s) is NOT a code change —
        # classifier.py has zero commits since r8; at this toy scale the
        # ~6 chained jobs (feature build + count + 2x(margins, gradient))
        # are dominated by per-job fixed overhead, which moved with the
        # host and the round-10 scan-parallelism floor (more, smaller
        # tasks on an 11 MB input). The scale shape — features built once,
        # cached, dim+1-row gradients — is unchanged.
        from nested_pandas_spark.pipeline.classifier import (
            train_quality_classifier,
        )
        labeled = t("documents").withColumn(
            "y", (F.col("lang") == "en").cast("int"))
        return train_quality_classifier(labeled, "y", dim=64, epochs=2,
                                        lr=1.0).count()

    bench_extra("train_classifier", x_train_clf)

    def x_kn_bigram():
        from nested_pandas_spark.pipeline.text import kn_bigram_logprob
        return kn_bigram_logprob(t("documents")).agg(
            F.sum("n_bigrams")).collect()

    bench_extra("kn_bigram_logprob", x_kn_bigram)

    def x_hard_neg():
        # ~6 stages (bucket explode x2, pair join, distinct, 2-stage
        # tournament): at this toy vector count the time is per-stage
        # scheduling/codegen overhead, not data (knn_join costs the same;
        # the ivf_refined_topk story) — amortizes at scale
        return sim.hard_negatives(t("embeddings"), "label", k=3,
                                  num_planes=8, num_tables=2,
                                  max_sim=0.999).count()

    bench_extra("hard_negatives", x_hard_neg)

    def x_jpeg_loop():
        # full media loop: encode 16x16 grayscale JPEGs per document,
        # strict-decode, aHash, and count near-dup pairs — Arrow-batched
        # mapInPandas end to end, payloads never shuffle
        import numpy as np

        from nested_pandas_spark.pipeline.jpeg import encode_jpeg
        from nested_pandas_spark.pipeline.multimodal import (
            decode_image,
            image_near_pairs,
        )

        def gen(batches):
            for pdf in batches:
                out = pdf[["doc_id"]].copy()
                out["payload"] = [
                    encode_jpeg(
                        np.random.default_rng(int(d))
                        .integers(0, 256, (16, 16), dtype=np.uint8)
                        .astype(np.uint8),
                        quality=90,
                    )
                    for d in pdf["doc_id"]
                ]
                yield out

        media = t("documents").select("doc_id").mapInPandas(
            gen, "doc_id long, payload binary")
        pix = decode_image(media, "payload", strict=True)
        return image_near_pairs(pix, "doc_id", in_height=16, in_width=16,
                                channels=1, max_hamming=2).count()

    bench_extra("jpeg_decode_loop", x_jpeg_loop)

    # decode-only: JPEGs are encoded OUTSIDE the timed region (written to
    # parquet once), so this number tracks pure codec decode throughput —
    # jpeg_decode_loop above prices encode+decode+aHash+pairing together
    import shutil as _sh
    import tempfile as _tf

    _jpeg_dir = _tf.mkdtemp(prefix="bench_jpeg_")
    try:
        import numpy as _np

        from nested_pandas_spark.pipeline.jpeg import encode_jpeg as _enc
        from nested_pandas_spark.pipeline.multimodal import (
            decode_image as _dec,
        )

        def _pregen(batches):
            for pdf in batches:
                out = pdf[["doc_id"]].copy()
                out["payload"] = [
                    _enc(
                        _np.random.default_rng(int(d))
                        .integers(0, 256, (16, 16), dtype=_np.uint8)
                        .astype(_np.uint8),
                        quality=90,
                    )
                    for d in pdf["doc_id"]
                ]
                yield out

        t("documents").select("doc_id").mapInPandas(
            _pregen, "doc_id long, payload binary"
        ).write.mode("overwrite").parquet(_jpeg_dir)

        def x_jpeg_decode_only():
            media = spark.read.parquet(_jpeg_dir)
            return _dec(media, "payload", strict=True).select(
                F.sum(F.element_at("pixels", 1))
            ).collect()

        bench_extra("jpeg_decode_only", x_jpeg_decode_only)
    finally:
        _sh.rmtree(_jpeg_dir, ignore_errors=True)

    def x_pii():
        from nested_pandas_spark.pipeline.pii import redact_pii

        return redact_pii(t("documents"), "text").select(
            F.sum("email_n"), F.sum("credit_card_n")
        ).collect()

    bench_extra("redact_pii", x_pii)

    def x_chat():
        from nested_pandas_spark.pipeline.chat import (
            assemble_conversations,
            render_template,
            truncate_to_budget,
        )

        ev = t("events").withColumn("role", F.lit("user")).withColumn(
            "content", F.col("event_type"))
        conv = assemble_conversations(
            ev, "user_id", "ts", "role", "content", tiebreak="event_id")
        return conv.select(
            F.sum(F.length(render_template("turns"))),
            F.sum(F.size(truncate_to_budget("turns", 64))),
        ).collect()

    bench_extra("chat_assembly", x_chat)

    def x_bloom():
        from nested_pandas_spark.pipeline.dedup import bloom_dedup_against

        docs = t("documents")
        return bloom_dedup_against(
            docs.where(F.col("doc_id") % 3 != 0),
            docs.where(F.col("doc_id") % 3 == 0),
            num_bits=1 << 20, num_hashes=4,
        ).count()

    bench_extra("bloom_dedup", x_bloom)

    def x_pagerank():
        from nested_pandas_spark.pipeline.graph import pagerank

        docs = t("documents").select("doc_id")
        n = docs.count()
        edges = docs.select(
            F.col("doc_id").alias("src"),
            ((F.col("doc_id") * 7 + 13) % n).alias("dst"))
        return pagerank(edges, iters=5).select(F.sum("rank")).collect()

    bench_extra("pagerank_5it", x_pagerank)

    def x_divergence():
        from nested_pandas_spark.pipeline.text import corpus_divergence

        docs = t("documents")
        return corpus_divergence(
            docs.where(F.col("lang") == "en"),
            docs.where(F.col("lang") == "de"),
        ).collect()

    bench_extra("corpus_divergence", x_divergence)

    def x_hll():
        from nested_pandas_spark.pipeline.sketches import (
            hll_count_distinct,
        )

        return hll_count_distinct(
            t("lineitem"), "l_partkey", b=10, by=["l_returnflag"]
        ).collect()

    bench_extra("hll_count_distinct", x_hll)

    def x_cms():
        from nested_pandas_spark.pipeline.sketches import cms_sketch
        from nested_pandas_spark.pipeline.text import words

        tokens = t("documents").select(
            F.explode(words(F.col("text"))).alias("w"))
        return cms_sketch(tokens, "w", depth=4, width=256).count()

    bench_extra("cms_sketch", x_cms)

    def x_span_corrupt():
        from nested_pandas_spark.pipeline.masking import span_corrupt

        return span_corrupt(t("documents"), "text").select(
            F.sum("n_spans")).collect()

    bench_extra("span_corrupt", x_span_corrupt)

    def x_pca():
        from nested_pandas_spark.pipeline.embeddings import (
            pca_fit, pca_transform,
        )

        emb = t("embeddings")
        model = pca_fit(emb, k=16, vec_col="embedding", dim=64,
                        whiten=True)
        return pca_transform(emb, model, "embedding").select(
            F.sum(F.element_at("pca", 1))).collect()

    bench_extra("pca_fit_transform", x_pca)

    def x_unigram():
        from nested_pandas_spark.pipeline.unigram import (
            unigram_encode, unigram_train,
        )

        docs = t("documents")
        vocab = unigram_train(docs, vocab_size=200, n_iters=2,
                              min_count=2)
        return unigram_encode(docs, vocab).select(
            F.sum("pieces_n")).collect()

    bench_extra("unigram_train_encode", x_unigram)

    def x_sentences():
        from nested_pandas_spark.pipeline.text import sentence_stats

        return sentence_stats(t("documents")).select(
            F.sum("sent_words")).collect()

    bench_extra("sentence_stats", x_sentences)

    # -- ADC scan measurement surface (pq_adc_scores: the scan phase of
    # pq_topk/ivfpq_topk without top-k truncation), run by the Arrow kernel.
    _adc_cbs = sim.pq_codebooks(t("embeddings"), n_sub=8, n_centroids=16)
    _adc_enc = sim.pq_encode(t("embeddings"), _adc_cbs).select(
        "vec_id", "pq_code")
    _adc_q = t("embeddings").where(F.col("vec_id") < 10)

    def x_adc():
        return sim.pq_adc_scores(_adc_enc, _adc_q, _adc_cbs).agg(
            F.sum("adc_dist")).collect()

    bench_extra("adc_scan_lut", x_adc)

    def x_wordpiece():
        from nested_pandas_spark.pipeline.wordpiece import (
            wordpiece_encode_vocab, wordpiece_pieces, wordpiece_train,
        )

        # documents.parquet is ONE undersized row group locally, so the
        # scan is a single task; a real corpus scan has thousands. The
        # repartition (~600 KB shuffle, milliseconds) restores the
        # parallelism the op would have at scale. Encode goes through
        # wordpiece_encode_vocab — the production path (round 10: one
        # Arrow-batched pass with an in-task per-word memo); train
        # finishes on the driver (small-vocab fast path) after the one
        # distributed word-count pass.
        docs = t("documents").repartition(cpus)
        m, v = wordpiece_train(docs, 8)
        pieces = wordpiece_pieces(m, v)
        return wordpiece_encode_vocab(docs, pieces).select(
            F.sum("tokens_n")).collect()

    bench_extra("wordpiece_train_encode", x_wordpiece)

    def x_heavy():
        from nested_pandas_spark.pipeline.sketches import heavy_hitters

        w = t("documents").select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
        ).where(F.col("w") != "")
        return heavy_hitters(w, "w", min_fraction=0.01).count()

    bench_extra("heavy_hitters", x_heavy)

    def x_tfrecord():
        import shutil
        import tempfile

        from nested_pandas_spark.sources.tfrecord import (
            read_tfrecord, write_tfrecord,
        )

        d = tempfile.mkdtemp(prefix="nps_bench_tfrec_")
        try:
            write_tfrecord(
                t("documents").select("doc_id", "lang", "text")
                .repartition(cpus), d)
            return read_tfrecord(
                spark, d,
                {"doc_id": "int64", "lang": "string", "text": "string"},
            ).count()
        finally:
            shutil.rmtree(d, ignore_errors=True)

    bench_extra("tfrecord_roundtrip", x_tfrecord)

    def x_ul2():
        from nested_pandas_spark.pipeline.masking import ul2_mix

        return ul2_mix(t("documents")).select(
            F.count("*"), F.sum("n_spans")).collect()

    bench_extra("ul2_mix", x_ul2)

    # -- cold query_nested attribution (round-9 verdict ask): split the
    # non-bucketed query_nested lambda into driver plan BUILD (Python +
    # py4j Column/DataFrame construction), Catalyst COMPILE (analysis ->
    # optimization -> physical planning, forced via executedPlan), FIRST
    # execution (includes whole-stage codegen + scan + shuffle), and a
    # WARM re-run of the very same DataFrame (plan, codegen, AND shuffle
    # map output reused — Spark keeps map output for an unchanged RDD
    # lineage, so warm_exec is the reduce-side final stage only).
    # first_exec - warm_exec ~ per-NEW-plan codegen + scan + shuffle-map
    # cost; plan_build + catalyst_compile is the driver-side latency
    # that would grow with expression count. Measured round 10 at sf0.1:
    # 0.21 / 0.015 / 1.38 / 0.03 — the cold query_nested gap is fixed
    # per-plan JVM work, not expression analysis.
    def _cold_decomp():
        d = {}
        t0 = time.perf_counter()
        dfq = (packed().query("items.l_quantity > 30")
               .df.select(F.sum(F.size("items"))))
        d["plan_build"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        next(plan_nodes(dfq))  # forces physical planning
        d["catalyst_compile"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        dfq.collect()
        d["first_exec"] = round(time.perf_counter() - t0, 4)
        t0 = time.perf_counter()
        dfq.collect()
        d["warm_exec"] = round(time.perf_counter() - t0, 4)
        return d

    cold_decomposition = _cold_decomp()

    extras_control["post"] = _time_best(_control, runs=3)

    # headline total stays the round-1..3 query set so round-over-round
    # totals compare; the bucketed variants are reported per-query + ratio
    headline = [q for q in queries if not q.endswith("_bucketed")]
    total = round(sum(queries[q] for q in headline), 4)
    sf = sf_dir.rstrip("/").split("sf")[-1]

    # ours-vs-reference on the same tables, recorded every run (the
    # reference has no counterpart for the dedup/ANN queries; the matched
    # suite is the apples-to-apples subset). ratio < 1 means we're faster.
    reference = None if os.environ.get("SPARK_GRAFT_BENCH_NOREF") else \
        _time_reference(sf_dir)
    ratios = None
    if reference:
        # MATCHED-SUITE METHODOLOGY (round-5 re-baselining, per the
        # round-4 verdict): the reference is an in-memory engine — its
        # add_nested/query_nested start from pandas frames that are
        # already loaded AND index-organized by the join key, so the
        # storage-equal comparison for the pack-shaped queries is the
        # bucketed layout (partitioning paid once at ingest, exactly as
        # the reference pays its set_index once before the timed region).
        # The bucketed rows are therefore the PRIMARY matched entries;
        # the cold-scan rows (full parquet scan + shuffle inside the
        # timed region, which the reference never pays) stay recorded as
        # per_query_cold / matched_cold_* so the fixed-cost gap remains
        # visible round-over-round.
        matched = {
            "add_nested_bucketed": "add_nested",
            "query_nested_bucketed": "query_nested",
            "count_by": "count_by",
            "explode_roundtrip": "explode_roundtrip",
            "ztf_workflow": "ztf_workflow",
        }
        ours_m = sum(queries[o] for o in matched)
        ref_m = sum(reference[r] for r in matched.values())
        cold_m = (sum(queries[m] for m in
                      ("add_nested", "query_nested", "count_by",
                       "explode_roundtrip", "ztf_workflow")))
        # primary per-query ratios, keyed by the reference's benchmark
        # name: layout-matched where a bucketed variant exists
        per_query_primary = {
            "add_nested": ("add_nested_bucketed", "add_nested"),
            "query_nested": ("query_nested_bucketed", "query_nested"),
            "count_by": ("count_by", "count_by"),
            "reduce_hof": ("reduce_hof", "reduce"),
            "reduce_udf": ("reduce_udf", "reduce"),
            "explode_roundtrip": ("explode_roundtrip", "explode_roundtrip"),
            "ztf_workflow": ("ztf_workflow", "ztf_workflow"),
        }
        per_query_cold = {
            "add_nested": ("add_nested", "add_nested"),
            "query_nested": ("query_nested", "query_nested"),
        }

        def _ratio_map(pairs):
            return {
                key: round(queries[ours] / reference[ref], 4)
                for key, (ours, ref) in pairs.items()
                if ours in queries and reference.get(ref)
            }

        ratios = {
            "matched_with_hof_reduce": round(
                (ours_m + queries["reduce_hof"])
                / (ref_m + reference["reduce"]), 4),
            "matched_with_udf_reduce": round(
                (ours_m + queries["reduce_udf"])
                / (ref_m + reference["reduce"]), 4),
            "matched_cold_with_hof_reduce": round(
                (cold_m + queries["reduce_hof"])
                / (ref_m + reference["reduce"]), 4),
            "matched_cold_with_udf_reduce": round(
                (cold_m + queries["reduce_udf"])
                / (ref_m + reference["reduce"]), 4),
            "per_query": _ratio_map(per_query_primary),
            "per_query_cold": _ratio_map(per_query_cold),
        }

    print(json.dumps({
        "metric": "bench_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "rows": rows,
        "checksums": checksums,
        "extras": extras,
        "extras_control": extras_control,
        "cold_decomposition": cold_decomposition,
        # machine-load index: the reference library's add_nested time in
        # THIS session — a Spark-free, single-core pandas workload, so it
        # moves only with machine load. Divide any wall-time column by
        # (load_index / its round's load_index) to self-normalize
        # cross-round comparisons (the round-8 archaeology, automated).
        "load_index": reference.get("add_nested") if reference else None,
        "recall": recall,
        "recall_clustered": recall_clustered,
        "reference": reference,
        "ratio": ratios,
        "sf": float(sf),
    }))

    for tbl in bkt.values():
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


if __name__ == "__main__":
    main()
