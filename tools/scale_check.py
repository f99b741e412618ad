"""Measured scaling evidence: run headline operators at sf0.1 and at a
10x key-shifted union of sf0.1 (~sf1), and record wall-time ratios.

A linear-time, well-partitioned operator should show a time ratio near
10/1 at fixed parallelism (or below it while spare cores absorb the
work); a super-linear ratio flags a stage that would not survive the
100 TB scale-up. Writes SCALE.md.

Usage: python tools/scale_check.py [--factor 10] [--out SCALE.md]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
BIG_DIR = "/tmp/scale_check_big"


def build_big(spark, factor: int) -> None:
    """Key-shifted unions: factor copies of each table with disjoint ids so
    group cardinality scales with the data (the realistic shape), written
    once to /tmp as parquet."""
    marker = os.path.join(BIG_DIR, "_DONE")
    if os.path.exists(marker) and open(marker).read() == str(factor):
        return
    shutil.rmtree(BIG_DIR, ignore_errors=True)
    os.makedirs(BIG_DIR, exist_ok=True)

    def shifted(name: str, key_cols: dict[str, int]):
        base = spark.read.parquet(f"{SF_DIR}/{name}.parquet")
        out = None
        for i in range(factor):
            c = base
            for col, span in key_cols.items():
                c = c.withColumn(col, F.col(col) + F.lit(i * span))
            out = c if out is None else out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{BIG_DIR}/{name}.parquet")

    # spans chosen beyond each table's max key at sf0.1
    shifted("orders", {"o_orderkey": 10_000_000})
    shifted("lineitem", {"l_orderkey": 10_000_000})
    shifted("documents", {"doc_id": 10_000_000})
    shifted("embeddings", {"vec_id": 10_000_000})
    shifted("events", {"event_id": 10_000_000, "user_id": 10_000_000})
    shifted("customer", {"c_custkey": 10_000_000})
    shifted("supplier", {"s_suppkey": 10_000_000})
    open(os.path.join(BIG_DIR, "_DONE"), "w").write(str(factor))


def timed(fn, runs: int = 2) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--out", default="SCALE.md")
    args = ap.parse_args()

    from nested_pandas_spark import NestedFrame, get_spark
    from nested_pandas_spark.pipeline import dedup as dd
    from nested_pandas_spark.pipeline import similarity as sim
    from nested_pandas_spark.pipeline.corpus import (
        pack_sequences,
        strip_boilerplate_lines,
    )

    spark = get_spark("scale_check", cpus=int(
        os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8))
    build_big(spark, args.factor)

    def t(d, name):
        return spark.read.parquet(f"{d}/{name}.parquet")

    def ops(d):
        def pack_count():
            li = t(d, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
            ndf = NestedFrame(t(d, "orders")).join_nested(li, "items",
                                                          on="o_orderkey")
            ndf.df.select(F.count("*"), F.sum(F.size("items"))).collect()

        def element_filter():
            li = t(d, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
            ndf = NestedFrame(t(d, "orders")).join_nested(li, "items",
                                                          on="o_orderkey")
            ndf.query("items.l_quantity > 30").df.select(
                F.sum(F.size("items"))).collect()

        def exact_dd():
            dd.exact_dedup(t(d, "documents"), "doc_id").count()

        def minhash():
            dd.lsh_candidate_pairs(t(d, "documents"), "doc_id",
                                   num_hashes=8, bands=4, shingle_n=3).count()

        def strip_lines():
            n = t(d, "documents").count()
            strip_boilerplate_lines(t(d, "documents"), sep=" ",
                                    min_df=int(n * 0.76)).select(
                F.sum("n_removed")).collect()

        def topk():
            emb = t(d, "embeddings")
            q = emb.where(F.col("vec_id") < 10)
            sim.brute_force_topk(emb, q, k=5).count()

        def packseq():
            pack_sequences(t(d, "documents"), 2048,
                           tokens_col="n_chars").count()

        def vocab_top():
            from nested_pandas_spark.pipeline.text import vocab
            vocab(t(d, "documents"), top_k=50).count()

        def group_desc():
            from nested_pandas_spark.operators.aggregates import group_describe
            group_describe(t(d, "documents"), by="source").count()

        def prof():
            from nested_pandas_spark.operators.aggregates import profile
            profile(t(d, "documents")).count()

        def rebin_daily():
            from nested_pandas_spark import pack, rebin
            ev = t(d, "events").select("user_id", "ts", "value")
            width = (86_400 * 10**9 if dict(ev.dtypes)["ts"] == "bigint"
                     else 86_400 * 10**6)
            nf = pack(ev, "series", on="user_id")
            rebin(nf, "series", "ts", width=width,
                  value_fields=["value"]).select(
                F.sum(F.size("series_binned"))).collect()

        def xmatch():
            from nested_pandas_spark.operators.crossmatch import crossmatch

            def xy(df, key):
                h = lambda salt: (  # noqa: E731
                    F.conv(F.substring(F.md5(F.concat_ws(
                        ":", F.col(key).cast("string"), F.lit(salt))),
                        1, 8), 16, 10).cast("long") / F.lit(2**32) * 100.0
                )
                return df.select(F.col(key), h("x").alias("x"), h("y").alias("y"))

            crossmatch(xy(t(d, "supplier"), "s_suppkey"),
                       xy(t(d, "customer"), "c_custkey"),
                       "s_suppkey", "c_custkey", radius=5.0, k=2).count()

        def tfidf():
            from nested_pandas_spark.pipeline.text import hashed_tfidf
            hashed_tfidf(t(d, "documents"), dim=64).count()

        def fuzzy():
            from nested_pandas_spark.pipeline.dedup import fuzzy_pairs
            vals = (t(d, "documents")
                    .selectExpr("substring(text, 1, 12) AS s")
                    .where("s IS NOT NULL").distinct()
                    .withColumn("id", F.col("s")))
            fuzzy_pairs(vals, "id", "s", max_dist=1, q=2).count()

        def ijoin():
            from nested_pandas_spark.operators.asof import interval_join
            ev = t(d, "events")
            us = (F.expr("ts div 1000")
                  if dict(ev.dtypes)["ts"] == "bigint"
                  else F.unix_micros(F.col("ts").cast("timestamp")))
            half = 1_800 * 1_000_000

            def win(ty):
                return ev.where(F.col("event_type") == ty).select(
                    F.col("event_id").alias(f"{ty}_id"), "user_id",
                    us.alias(f"{ty}_s"), (us + half).alias(f"{ty}_e"))

            interval_join(win("click"), win("error"), "user_id",
                          "click_s", "click_e", "error_s", "error_e",
                          bucket=half).count()

        def rolling_mega():
            # skewed MEGA-CELLS: every event packed under user_id % 5, so
            # each cell holds ~n/5 elements (tens of thousands at 10x) —
            # the per-cell Arrow pass must stay linear in the cell size (the
            # entry name is kept so SCALE.md rows stay comparable)
            from nested_pandas_spark import nest_rolling, pack
            ev = t(d, "events").select(
                (F.col("user_id") % 5).alias("k"), "event_id", "value")
            nf = pack(ev, "series", on="k", sort_within=["event_id"])
            nest_rolling(nf, "series", "value", window=16).select(
                F.sum(F.size("series"))).collect()

        def pgram():
            from nested_pandas_spark import pack, periodogram
            ev = t(d, "events").select("user_id", "ts", "value")
            day = (86_400 * 10**9 if dict(ev.dtypes)["ts"] == "bigint"
                   else 86_400 * 10**6)
            nf = pack(ev, "series", on="user_id", sort_within=["ts"])
            periodogram(nf, "series", "ts", "value",
                        [0.25, 0.5, 1.0, 2.0], time_scale=float(day)).select(
                F.sum(F.size("series_pgram"))).collect()

        def passages():
            from nested_pandas_spark.pipeline.dedup import dedup_passages
            dedup_passages(t(d, "documents"), window=8).select(
                F.sum("n_removed")).collect()

        def bpe_pairs():
            from nested_pandas_spark.pipeline.text import bpe_pair_stats
            bpe_pair_stats(t(d, "documents"), top_k=50).count()

        def chunker():
            from nested_pandas_spark.pipeline.corpus import chunk_documents
            chunk_documents(t(d, "documents"), 64, 48).count()

        def winnow():
            from nested_pandas_spark.pipeline.dedup import winnow_fingerprints
            winnow_fingerprints(t(d, "documents"), k=3, window=4).count()

        def winnow_pairs():
            # posting-list pair join with the boilerplate valve — the join
            # volume must scale with the data, not quadratically
            from nested_pandas_spark.pipeline.dedup import winnow_near_pairs
            winnow_near_pairs(t(d, "documents"), k=3, window=4,
                              min_shared=2, max_posting=64).count()

        def qbins():
            # global path: the distributed prefix-sum (range partition +
            # driver offsets) — the part that must NOT become a
            # single-task window at scale
            from nested_pandas_spark.pipeline.corpus import quality_bins
            docs = t(d, "documents").where(F.col("text").isNotNull())
            scored = docs.select(
                "doc_id", F.col("n_chars").cast("double").alias("score"))
            quality_bins(scored, "score", 10).groupBy("bin").count().count()

        def filter_paras():
            from nested_pandas_spark.pipeline.corpus import filter_paragraphs
            filter_paragraphs(t(d, "documents"), -3.47).select(
                F.sum("n_paras_removed")).collect()

        def align_explode_mega():
            # skewed MEGA-CELLS (user_id % 5): per-cell nearest-time
            # alignment must stay n log n per cell, where an
            # O(n_left*n_right) per-cell scan would blow up (the entry
            # name is kept so SCALE.md rows stay comparable)
            from nested_pandas_spark import nest_align, pack
            ev = t(d, "events")
            nanos = dict(ev.dtypes)["ts"] == "bigint"
            tol = 21_600 * (10**9 if nanos else 10**6)
            base = ev.select((F.col("user_id") % 5).alias("k"),
                             "event_id", "ts", "value", "event_type")
            a = pack(base.where(F.col("event_type") == "click")
                     .select("k", "event_id", "ts", "value"),
                     "a", on="k", sort_within=["ts"])
            b = pack(base.where(F.col("event_type") == "error")
                     .select("k", "ts", "value"),
                     "b", on="k", sort_within=["ts"])
            both = a.join(b.select("k", "b"), "k", "inner")
            nest_align(both, "a", "b", "ts", "value", tolerance=tol).select(
                F.sum(F.size("a"))).collect()

        def mixture():
            from nested_pandas_spark.pipeline.corpus import build_mixture
            srcs = [r[0] for r in t(d, "documents").select("source")
                    .distinct().collect()]
            target = {s: 1.0 for s in srcs[: max(1, len(srcs) // 2)]}
            build_mixture(t(d, "documents"), target, 50_000).count()

        def train_clf():
            from nested_pandas_spark.pipeline.classifier import (
                train_quality_classifier,
            )
            labeled = t(d, "documents").withColumn(
                "y", (F.col("lang") == "en").cast("int"))
            train_quality_classifier(labeled, "y", dim=64, epochs=2,
                                     lr=1.0).count()

        def hard_negs():
            # SRP bucket self-join across labels: candidate count should
            # scale with collisions per bucket, never all-pairs
            from nested_pandas_spark.pipeline.similarity import hard_negatives
            hard_negatives(t(d, "embeddings"), "label", k=3, num_planes=8,
                           num_tables=2, max_sim=0.999).count()

        def kn_bigram():
            # three partial-agg count shuffles + one broadcast row
            from nested_pandas_spark.pipeline.text import kn_bigram_logprob
            kn_bigram_logprob(t(d, "documents")).select(
                F.sum("n_bigrams")).collect()

        def ivfpq():
            # 10x CORPUS, fixed query set: probe pruning + LUT ADC must
            # keep the scan linear in the probed cells
            from nested_pandas_spark.pipeline.similarity import ivfpq_topk
            emb = t(d, "embeddings")
            # vec_id < 10 exists only in the unshifted copy: the query
            # set stays FIXED while the corpus grows 10x
            q = emb.where(F.col("vec_id") < 10)
            ivfpq_topk(emb, q, k=3, n_centroids=8, n_probe=3, n_sub=4,
                       pq_centroids=8, refine=4, n_iters=2,
                       pq_iters=2).count()

        def pii():
            from nested_pandas_spark.pipeline.pii import redact_pii
            redact_pii(t(d, "documents"), "text").select(
                F.sum("email_n"), F.max(F.length("text_redacted"))).collect()

        def code_quality():
            from nested_pandas_spark.pipeline.code import with_code_signals
            with_code_signals(t(d, "documents"), "text").select(
                F.sum("n_lines"), F.sum("max_line_len"),
                F.count("license_id")).collect()

        def chat():
            from nested_pandas_spark.pipeline.chat import (
                assemble_conversations, render_template, truncate_to_budget)
            ev = t(d, "events").withColumn(
                "role", F.lit("user")).withColumn("content", F.col("event_type"))
            conv = assemble_conversations(ev, "user_id", "ts", "role",
                                          "content", tiebreak="event_id")
            conv.select(
                F.sum(F.length(render_template("turns"))),
                F.sum(F.size(truncate_to_budget("turns", 64)))).collect()

        def bloom_dd():
            from nested_pandas_spark.pipeline.dedup import bloom_dedup_against
            docs = t(d, "documents")
            bloom_dedup_against(
                docs.where(F.col("doc_id") % 3 != 0),
                docs.where(F.col("doc_id") % 3 == 0),
                num_bits=1 << 20, num_hashes=4).count()

        def pr():
            # 10x nodes AND 10x edges: per-iteration join/agg must scale
            from nested_pandas_spark.pipeline.graph import pagerank
            docs = t(d, "documents").select("doc_id")
            n = docs.count()
            edges = docs.select(
                F.col("doc_id").alias("src"),
                ((F.col("doc_id") * 7 + 13) % n).alias("dst"))
            pagerank(edges, iters=3).select(F.sum("rank")).collect()

        def divergence():
            from nested_pandas_spark.pipeline.text import corpus_divergence
            docs = t(d, "documents")
            corpus_divergence(
                docs.where(F.col("lang") == "en"),
                docs.where(F.col("lang") == "de")).collect()

        def hll():
            # sketch-sized shuffle: partial max caps each task at m rows
            # per group regardless of data volume
            from nested_pandas_spark.pipeline.sketches import hll_registers
            hll_registers(t(d, "lineitem"), "l_partkey", b=8,
                          by=["l_returnflag"]).count()

        def cms():
            from nested_pandas_spark.pipeline.sketches import cms_sketch
            from nested_pandas_spark.pipeline.text import words
            tokens = t(d, "documents").select(
                F.explode(words(F.col("text"))).alias("w"))
            cms_sketch(tokens, "w", depth=4, width=256).count()

        def spancorr():
            # window + groupBy share one doc_id Exchange (plan-asserted)
            from nested_pandas_spark.pipeline.masking import span_corrupt
            span_corrupt(t(d, "documents"), "text").select(
                F.sum("n_spans")).collect()

        def pca_moments():
            # one moment row per partition; collect is O(parts * d^2)
            from nested_pandas_spark.pipeline.embeddings import (
                embedding_moments,
            )
            embedding_moments(t(d, "embeddings"), "embedding", dim=64)

        def sent_stats():
            from nested_pandas_spark.pipeline.text import sentence_stats
            sentence_stats(t(d, "documents")).select(
                F.sum("sent_words")).collect()

        def unigram_enc():
            # train (word-grain EM) + Viterbi encode, both scale with the
            # distinct-word table, not the corpus text volume
            from nested_pandas_spark.pipeline.unigram import (
                unigram_encode, unigram_train,
            )
            vocab = unigram_train(t(d, "documents"), 100, n_iters=1,
                                  min_count=2)
            unigram_encode(t(d, "documents"), vocab).select(
                F.sum("pieces_n")).collect()

        def hist():
            from nested_pandas_spark.pipeline.sketches import (
                histogram_quantiles, histogram_sketch,
            )
            sk = histogram_sketch(t(d, "lineitem"), "l_extendedprice",
                                  0.0, 110000.0, bins=1100,
                                  by=["l_returnflag"])
            histogram_quantiles(sk, [0.5, 0.9], 0.0, 110000.0, bins=1100,
                                by=["l_returnflag"]).collect()

        def keep_best():
            from nested_pandas_spark.pipeline.dedup import dedup_keep_best
            docs = t(d, "documents")
            dedup_keep_best(
                docs.withColumn("q", (F.col("doc_id") % 101).cast("double")),
                "doc_id", "q").count()

        def wp_train():
            # the round-9 trainer shape at 10x words: ONE distributed
            # word-count collapse, then the driver merge loop (the 10x
            # union duplicates texts under shifted ids, so distinct words
            # are constant — the collapse is the only data-sized stage)
            from nested_pandas_spark.pipeline.wordpiece import (
                wordpiece_train,
            )
            m, _ = wordpiece_train(t(d, "documents"), 8)
            m.count()

        def wp_encode():
            from nested_pandas_spark.pipeline.wordpiece import (
                wordpiece_encode,
            )
            pieces = (
                [chr(c) for c in range(ord("a"), ord("z") + 1)]
                + ["##" + chr(c) for c in range(ord("a"), ord("z") + 1)]
                + [str(i) for i in range(10)]
                + ["##" + str(i) for i in range(10)]
                + ["##he", "the", "##ue", "val"]
            )
            wordpiece_encode(t(d, "documents"), pieces).agg(
                F.sum("tokens_n")).collect()

        def heavy():
            from nested_pandas_spark.pipeline.sketches import heavy_hitters
            w = t(d, "documents").select(
                F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
            ).where(F.col("w") != "")
            heavy_hitters(w, "w", min_fraction=0.01).count()

        def prefix_lm():
            from nested_pandas_spark.pipeline.masking import prefix_lm_split
            prefix_lm_split(t(d, "documents")).agg(
                F.sum("pivot")).collect()

        def tfrec():
            import shutil as _sh
            import tempfile as _tf

            from nested_pandas_spark.sources.tfrecord import (
                read_tfrecord, write_tfrecord,
            )
            out = _tf.mkdtemp(prefix="nps_scale_tfrec_")
            try:
                write_tfrecord(
                    t(d, "documents").select("doc_id", "text")
                    .repartition(spark.sparkContext.defaultParallelism),
                    out)
                read_tfrecord(spark, out,
                              {"doc_id": "int64", "text": "string"}).count()
            finally:
                _sh.rmtree(out, ignore_errors=True)

        def groupby_nested_agg():
            li = t(d, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
            ndf = NestedFrame(t(d, "orders")).join_nested(li, "items",
                                                          on="o_orderkey")
            ndf.groupby("o_orderpriority").agg(
                {"items.l_quantity": ["min", "mean", "count"]}).collect()

        def reduction_filter():
            li = t(d, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
            ndf = NestedFrame(t(d, "orders")).join_nested(li, "items",
                                                          on="o_orderkey")
            ndf.query("items.l_quantity > items.l_quantity.mean()") \
                .df.select(F.sum(F.size("items"))).collect()

        return {
            "pack_count": pack_count,
            "element_filter": element_filter,
            "groupby_nested_agg": groupby_nested_agg,
            "reduction_filter": reduction_filter,
            "exact_dedup": exact_dd,
            "minhash_lsh": minhash,
            "strip_lines": strip_lines,
            "topk_cosine": topk,
            "pack_sequences": packseq,
            "vocab": vocab_top,
            "group_describe": group_desc,
            "profile": prof,
            "rebin": rebin_daily,
            "crossmatch": xmatch,
            "hashed_tfidf": tfidf,
            "fuzzy_pairs": fuzzy,
            "interval_join": ijoin,
            "rolling_explode_mega": rolling_mega,
            "periodogram": pgram,
            "dedup_passages": passages,
            "bpe_pair_stats": bpe_pairs,
            "chunk_documents": chunker,
            "winnow_fingerprints": winnow,
            "winnow_near_pairs": winnow_pairs,
            "quality_bins": qbins,
            "filter_paragraphs": filter_paras,
            "align_explode_mega": align_explode_mega,
            "train_classifier": train_clf,
            "build_mixture": mixture,
            "hard_negatives": hard_negs,
            "kn_bigram": kn_bigram,
            "ivfpq_topk": ivfpq,
            "redact_pii": pii,
            "code_quality": code_quality,
            "chat_assembly": chat,
            "bloom_dedup": bloom_dd,
            "pagerank_3it": pr,
            "corpus_divergence": divergence,
            "hll_registers": hll,
            "cms_sketch": cms,
            "span_corrupt": spancorr,
            "pca_moments": pca_moments,
            "sentence_stats": sent_stats,
            "unigram_encode": unigram_enc,
            "histogram_quantiles": hist,
            "dedup_keep_best": keep_best,
            "wordpiece_train": wp_train,
            "wordpiece_encode": wp_encode,
            "heavy_hitters": heavy,
            "prefix_lm_split": prefix_lm,
            "tfrecord_roundtrip": tfrec,
        }

    # warm-up
    t(SF_DIR, "lineitem").count()
    t(BIG_DIR, "lineitem").count()

    small = {k: timed(f) for k, f in ops(SF_DIR).items()}
    big = {k: timed(f) for k, f in ops(BIG_DIR).items()}

    lines = [
        "# SCALE — measured 10x scaling of headline operators",
        "",
        f"Same machine (local[{spark.sparkContext.defaultParallelism}]), same "
        f"plans; 'big' is a {args.factor}x key-shifted union of sf0.1 "
        "(disjoint keys, so group/dedup cardinality grows with the data — "
        "the realistic shape). Time ratio at fixed parallelism should stay "
        f"at or below the data ratio ({args.factor}x) for a linear, "
        "well-partitioned operator; super-linear growth flags a stage that "
        "would not survive the 100 TB scale-up. Best-of-2 timings.",
        "",
        "| operator | sf0.1 (s) | 10x (s) | time ratio | verdict |",
        "|---|---|---|---|---|",
    ]
    worst = 0.0
    for k in small:
        r = big[k] / small[k] if small[k] > 0 else float("inf")
        worst = max(worst, r)
        verdict = "linear-or-better" if r <= args.factor * 1.3 else "SUPER-LINEAR"
        lines.append(
            f"| {k} | {small[k]:.2f} | {big[k]:.2f} | {r:.1f}x | {verdict} |"
        )
    lines += [
        "",
        "Generated by `tools/scale_check.py` (re-run after plan changes; "
        "exits non-zero if any operator exceeds 1.3x the data ratio).",
        "",
        "## Ratio attribution for the table's historical worst entries",
        "",
        "(Round-8 profiling, setup-vs-iteration decomposition at sf0.1 vs "
        "the 10x union — see the round-8 commit for the harness.)",
        "",
        "- **pagerank_3it** (~2.4x): the setup phase (node dedup + links "
        "checkpoint, measured as iters=0) is FLAT across 10x data "
        "(1.07s -> 0.91s — pure per-job fixed cost), while the "
        "per-iteration join+agg grows 0.17s -> 0.39s (2.3x at 10x data, "
        "sublinear — spare cores absorb it). The overall ratio is fixed "
        "cost amortizing out of a growing total, not a super-linear "
        "stage; at real scale iterations dominate and scale with the "
        "edge shuffle, the expected PageRank shape.",
        "- **dedup_keep_best** (~2.1x): decomposes as a flat fingerprint "
        "scan (0.125s -> 0.140s) plus a (fp,id,score)-grain shuffle+agg "
        "delta growing 0.105s -> 0.154s (1.5x at 10x data). Entirely "
        "fixed-cost amortization; the only data-sized stage is the "
        "hash-grain exchange, which is the operator's designed shape.",
        "",
        "Round-9 re-measurement of the round-8 table's three worst "
        "entries (unigram_encode 8.3x, profile 7.6x, dedup_keep_best "
        "3.9x), isolated session, stage-decomposed best-of-2:",
        "",
        "- **unigram_encode**: train 2.22s -> 2.15s, encode 2.54s -> "
        "2.42s at 10x data — FLAT. The 10x union duplicates document "
        "text under shifted ids, so the distinct-word table (which both "
        "EM and the Viterbi word cache key on) is constant; the "
        "corpus-grain stages (stamp checkpoint, posexplode, reassembly) "
        "grow with data but are absorbed by spare cores at this volume. "
        "The round-8 8.3x was machine load, not a super-linear stage.",
        "- **profile**: 1.00s -> 0.86s full, raw scan 0.14s -> 0.16s, "
        "all-column countDistinct 0.29s -> 0.46s — the only stage that "
        "grows is the distinct-count exchange (1.6x at 10x), exactly "
        "its designed hash-grain shape. Round-8 7.6x: machine load.",
        "- **dedup_keep_best**: 0.34s -> 0.46s full (1.4x), fingerprint "
        "scan 0.11s -> 0.15s. Same fixed-cost amortization as the "
        "round-7 analysis above. Round-8 3.9x: machine load.",
        "",
        "Consequence: SCALE.md must be regenerated in an ISOLATED "
        "session (no concurrent bench/test runs) — ratios at this data "
        "size are fixed-cost dominated and a loaded machine inflates "
        "exactly the entries whose absolute times are smallest.",
        "",
    ]
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print("\n".join(lines))
    return 0 if worst <= args.factor * 1.3 else 1


if __name__ == "__main__":
    raise SystemExit(main())
