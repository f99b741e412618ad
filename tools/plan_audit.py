"""Build the engine's headline operators at a small scale factor, walk their
plans and assert the scale-critical properties hold, writing the evidence
to PLANS.md.

Every claim is a small table of node assertions over
``nested_pandas_spark.plans.inspect.plan_nodes``: which node classes are
present or absent (exchanges, joins, windows, Python evaluators), how many
shuffles there are, what a scan pushed down, and where a node sits in the
tree (a partial aggregate below its exchange). No assertion reads
``explain`` text, so they survive explain-format changes. Each PLANS.md
section prints the nodes it matched, indented by their depth in the plan.

Run: python tools/plan_audit.py [sf_dir]   (default /root/testdata/sf0.001)
Exit code 1 if any assertion fails; PLANS.md is (re)written either way.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from nested_pandas_spark import (NestedFrame, get_spark, lightcurve_features, nest_align,
                                 nest_cum, nest_dedup, nest_ewm, nest_rolling, pack,
                                 periodogram, phase_fold, read_parquet, rebin)
from nested_pandas_spark.operators.aggregates import profile
from nested_pandas_spark.pipeline import corpus
from nested_pandas_spark.pipeline import similarity as sim
from nested_pandas_spark.pipeline.chat import (assemble_conversations, render_template,
                                               truncate_to_budget)
from nested_pandas_spark.pipeline.classifier import (classifier_score, hashed_bow,
                                                     train_quality_classifier)
from nested_pandas_spark.pipeline.code import with_code_signals
from nested_pandas_spark.pipeline.dedup import (BloomBitmap, bloom_dedup_against,
                                                dedup_against, dedup_passages,
                                                semantic_dedup, winnow_fingerprints)
from nested_pandas_spark.pipeline.embeddings import pca_fit, pca_transform
from nested_pandas_spark.pipeline.graph import pagerank
from nested_pandas_spark.pipeline.masking import prefix_lm_split, span_corrupt
from nested_pandas_spark.pipeline.pii import redact_pii
from nested_pandas_spark.pipeline.search import bm25_topk
from nested_pandas_spark.pipeline.sketches import cms_sketch, hll_registers, topk_frequent
from nested_pandas_spark.pipeline.text import vocab, words
from nested_pandas_spark.pipeline.web import with_registrable_domain
from nested_pandas_spark.pipeline.wordpiece import wordpiece_encode
from nested_pandas_spark.plans.inspect import find_nodes as find, plan_nodes, plan_tree
from nested_pandas_spark.sources.ivf_store import append_ivf_index, ivf_search, write_ivf_index

ALL_PAIRS = ("CartesianProduct", "BroadcastNestedLoopJoin")
PYTHON = ("BatchEvalPython", "MapInPandas", "ArrowEvalPython")
BROADCAST = ("BroadcastNestedLoopJoin", "BroadcastExchange")


def nodes(*dfs, plan: str = "physical") -> list:
    """The plan nodes of every frame, in walk order."""
    return [n for df in dfs for n in plan_nodes(df, plan)]


def below_shuffle(ns) -> bool:
    return any("ShuffleExchange" in n.ancestors for n in ns)


def map_side(ns, fn: str) -> bool:
    """An aggregate computing ``fn`` (``partial_count``...) below a shuffle."""
    return below_shuffle(find(ns, "Aggregate", text=fn))


def hash_shuffles(ns) -> int:
    return len(find(ns, "ShuffleExchange", text="hashpartitioning"))


def pushed(ns, key: str, pred: str) -> bool:
    """Some scan's ``key`` metadata (PushedFilters...) mentions ``pred``."""
    return any(pred in n.meta.get(key, "") for n in ns)


def render(ns) -> str:
    """PLANS.md evidence: one line per node, indented by its depth below
    the shallowest one shown; a scan prints its metadata."""
    top = min((len(n.ancestors) for n in ns), default=0)
    return "\n".join("  " * (len(n.ancestors) - top) + (
        f"{n.name} " + ", ".join(f"{k}: {v}" for k, v in n.meta.items())
        if n.meta else n.text) for n in ns)


@contextlib.contextmanager
def snapshot_plans():
    """Collect the plan nodes of every frame ``pipeline.corpus`` hands to
    ``snapshot`` inside the block. The prefix-sum operators materialize
    their range-partitioned projection eagerly, so the result's plan only
    reads the checkpoint: the partitioning and window claims are checked
    on the frame that the checkpoint materialized."""
    seen, orig = [], corpus.snapshot

    def record(df):
        seen.append(nodes(df))
        return orig(df)

    corpus.snapshot = record
    try:
        yield seen
    finally:
        corpus.snapshot = orig


def range_prefix_sum(plans) -> bool:
    """Some plan has a range-partitioned exchange feeding a per-partition
    window."""
    return any("Window" in n.ancestors for ns in plans
               for n in find(ns, "ShuffleExchange", text="rangepartitioning"))


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(cpus=8)

    def table(name):
        return spark.read.parquet(f"{sf}/{name}.parquet")

    orders, docs, emb = table("orders"), table("documents"), table("embeddings")
    li = table("lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    failures: list[str] = []
    sections: list[tuple[str, str, str]] = []  # (title, commentary, nodes)

    def check(name: str, ok: bool, detail: str = "") -> None:
        if not ok:
            failures.append(f"{name}: {detail}")

    def section(title: str, why: str, ns, *show: str, limit: int = 600):
        sections.append(
            (title, " ".join(why.split()), render(find(ns, *show))[:limit]))

    def no_shuffle(name: str, ns, detail: str) -> None:
        check(name, not find(ns, "Exchange"), detail)

    def no_all_pairs(name: str, ns, detail: str) -> None:
        check(name, not find(ns, *ALL_PAIRS), detail)

    def pending():
        return NestedFrame(orders).join_nested(li, "items", on="o_orderkey")

    # -- 1. nested-schema pruning ------------------------------------------
    packed_path = f"{spark.conf.get('spark.sql.warehouse.dir')}/__audit_packed"
    pending().to_parquet(packed_path, mode="overwrite")
    pruned = read_parquet(spark, packed_path, columns=["o_orderkey", "items.l_quantity"])
    n1 = nodes(pruned.select(F.explode("items.l_quantity")))
    schemas = [n.meta.get("ReadSchema", "") for n in find(n1, "Scan")]
    check("nested-schema pruning", bool(schemas) and all(
        "l_quantity" in s and "l_extendedprice" not in s and "o_custkey" not in s
        for s in schemas), str(schemas))
    section("Nested-schema pruning", """
        `read_parquet(path, columns=['items.l_quantity'])` — the parquet scan reads exactly
        one leaf of the `array<struct>` column (plus the key), not the whole struct. At 100
        TB this is the difference between scanning 1 column and scanning 16.""", n1, "Scan")

    # -- 2. element-filter pushdown through the pending pack ---------------
    # (left pack: pushdown is semantics-preserving — all-fail parents keep a
    # NULL cell either way. On an INNER pack the rewrite correctly refuses
    # to push, since parents must survive an element filter.)
    nf = pending()
    n2 = nodes(nf.query("items.l_quantity > 30").df)
    check("element-filter pushdown",
          pushed(n2, "PushedFilters", "GreaterThan(l_quantity,30"),
          "no PushedFilters with GreaterThan(l_quantity,30...)")
    section("Element-filter pushdown", """
        `query('items.l_quantity > 30')` on a *pending* pack rewrites to a filter on the
        flat child BEFORE the pack's shuffle, and Catalyst pushes it into the parquet scan
        — rows that can't survive never leave the data source.""", n2, "Scan")

    # -- 2b. reduction-literal pushdown ------------------------------------
    # a global Series reduction (`items.l_quantity.mean()`) binds to a
    # literal scalar BEFORE compilation finishes, so the element predicate
    # it appears in is still an ordinary literal compare — and still pushes
    # through the pending pack into the child scan
    n2b = nodes(pending().query("items.l_quantity > items.l_quantity.mean()").df)
    check("reduction-literal pushdown",
          pushed(n2b, "PushedFilters", "GreaterThan(l_quantity,"),
          "no PushedFilters with GreaterThan(l_quantity,...)")
    section("Reduction-literal pushdown", """
        `query('items.l_quantity > items.l_quantity.mean()')` — the global reduction runs
        as ONE separate distributed aggregate (map-side partials, one row to the driver)
        and folds into the predicate as a literal, so the element filter STILL reaches the
        child parquet scan's PushedFilters. A correlated-subquery formulation would have
        blocked pushdown and re-planned the aggregate under the join.""", n2b, "Scan")

    # -- 2c. grouped nested aggregation without arrays ---------------------
    # groupby(...).agg({'items.l_quantity': 'mean'}) on a PENDING pack must
    # aggregate the flat child directly: no collect_list anywhere in the plan
    n2c = nodes(pending().groupby("o_orderpriority")
                .agg({"items.l_quantity": ["min", "mean", "count"]}))
    check("groupby flat-path no arrays", not find(n2c, text="collect_list"),
          "collect_list present in grouped-agg plan")
    section("Grouped nested aggregation without arrays", """
        `groupby('o_orderpriority').agg({'items.l_quantity': 'mean'})` on a pending pack
        never builds the packed arrays: the flat child joins the base keys and ONE hash
        aggregation computes every statistic — no collect_list in the plan. At 100 TB this
        removes the pack shuffle's array materialization entirely for aggregate-only
        consumers.""", n2c, "HashAggregate", "Exchange", limit=900)

    # -- 3. single-shuffle pack + 4. aggregate pruning ---------------------
    # count-only projection: the nested array itself is unused, so the lazy
    # pack's collect_list must be pruned away entirely
    n3 = nodes(nf.count_nested("items").df.select("o_orderkey", "n_items"))
    check("single-shuffle pack", hash_shuffles(n3) <= 2,
          f"{hash_shuffles(n3)} hash exchanges")
    check("aggregate pruning", not find(n3, text="collect_list"),
          "collect_list survived")
    check("map-side partial agg", map_side(n3, "partial_count"),
          "no partial aggregate before exchange")
    section("Pack + count: aggregate pruning, partial aggregation", """
        `join_nested(...).count_nested('items')` — the lazy pack folds the count into its
        own groupBy; the unused `collect_list` is pruned entirely (no array is ever built),
        the count runs map-side (partial) before its single exchange.""",
            n3, "HashAggregate", "Exchange", "Join")

    # -- 5. broadcast join --------------------------------------------------
    cust, nation = table("customer"), table("nation")
    n5 = nodes(cust.join(nation, cust.c_nationkey == nation.n_nationkey))
    check("broadcast join", bool(find(n5, "BroadcastHashJoin")),
          "dimension not broadcast")
    section("Broadcast join for small dimensions", """
        customer ⋈ nation: Catalyst broadcasts the 25-row dimension — no shuffle of the
        fact side. The engine leaves join-strategy choice to Catalyst/AQE everywhere;
        nothing in the API forces a shuffle join.""", n5, "BroadcastHashJoin")

    # -- 6. zero-shuffle element ops ---------------------------------------
    n6 = nodes(NestedFrame(spark.read.parquet(packed_path)).query("items.l_quantity > 10")
               .eval("items.rev = items.l_extendedprice * (1 - items.l_discount)")
               .sort_values("items.l_shipdate").df)
    no_shuffle("zero-shuffle element ops", n6, "element ops shuffled")
    section("Zero-shuffle element operators", """
        filter → eval → element-sort on an already-packed frame: the whole chain is per-row
        array rewriting (higher-order functions) — NO Exchange in the plan. At any scale
        these ops cost one scan.""", n6, "Project", "Filter", "Scan")

    # -- 7. whole-stage codegen --------------------------------------------
    # AQE wraps the plan in AdaptiveSparkPlan, which plans no codegen
    # stages until execution — probe with AQE off to see the static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    n7 = nodes(nf.count_nested("items").df.select("o_orderkey", "n_items"))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    check("whole-stage codegen", bool(find(n7, "WholeStageCodegen")),
          "no codegen subtrees planned")
    section("Whole-stage codegen", """
        The count query's hot path (scan → project → partial agg) compiles into
        WholeStageCodegen spans; no Python in the loop.""",
            n7, "WholeStageCodegen", "HashAggregate", limit=400)

    # -- 8. decontaminate: bench set broadcasts, text never shuffles --------
    n8 = nodes(corpus.decontaminate(docs.where(F.col("doc_id") % 19 != 0),
                                    docs.where(F.col("doc_id") % 19 == 0), ngram_n=8))
    check("decontaminate broadcast", bool(find(n8, "BroadcastHashJoin")),
          "benchmark n-gram set not broadcast")
    section("Decontamination: eval-set broadcast, id/hash-only shuffles", """
        decontaminate(train, bench): the benchmark's hashed n-gram set is the build side of
        a BroadcastHashJoin; the corpus side contributes only (id, 8-byte hash) pairs to
        the one count shuffle — document text never leaves its scan stage.""",
            n8, "BroadcastHashJoin")

    # -- 9. pack_sequences: no single-task global window --------------------
    with snapshot_plans() as snap9:
        n9 = nodes(corpus.pack_sequences(docs, capacity=1024))
    n9 = sum(snap9, []) + n9
    check("pack_sequences parallel prefix sum", not find(n9, text="SinglePartition"),
          "global window funnels through one task")
    check("pack_sequences range-partitioned prefix sum", range_prefix_sum(snap9),
          "the snapshotted prefix-sum frame is not range-partitioned")
    section("Sequence packing: two-stage prefix sum, no SinglePartition exchange", """
        pack_sequences computes a global running token sum with range partitioning +
        per-partition windows + broadcast partition offsets. The naive `SUM() OVER (ORDER
        BY id)` plan would contain `Exchange SinglePartition` — this plan must not (and the
        oracle for q43 IS the naive form, so equivalence is hash-checked). The range
        exchange and window are checked on the frame the eager `snapshot` materializes; the
        result reads that checkpoint.""", n9, "Exchange", "Window")

    # -- 10. BM25: query terms + df broadcast, postings shuffle once --------
    queries_df = spark.createDataFrame(
        [(1, "spark join"), (2, "vector stream")], "query_id long, query string")
    n10 = nodes(bm25_topk(docs, queries_df, k=10))
    n_bhj = len(find(n10, "BroadcastHashJoin"))
    check("bm25 broadcast sides",
          n_bhj >= 2 and bool(find(n10, "BroadcastNestedLoopJoin")),
          f"expected query-term + df broadcasts and 1-row stats cross join, "
          f"got {n_bhj} BroadcastHashJoin")
    section("BM25 search: broadcast query terms / document frequencies / stats", """
        bm25_topk: the query-term table and the per-term document frequencies both
        broadcast (BroadcastHashJoin); the 1-row corpus stats aggregate joins as a
        BroadcastNestedLoopJoin. The only wide exchanges are the postings groupBy and the
        per-(query, doc) score sum — both carry ids and counts, never text.""",
            n10, "BroadcastHashJoin", "BroadcastNestedLoopJoin")

    # -- 11. assign_shards: prefix sum stays parallel -----------------------
    with snapshot_plans() as snap11:
        n11 = nodes(corpus.assign_shards(docs, 64000, tokens_col="n_chars"))
    n11 = sum(snap11, []) + n11
    check("assign_shards parallel prefix sum", not find(n11, text="SinglePartition"),
          "global window funnels through one task")
    check("assign_shards range-partitioned prefix sum", range_prefix_sum(snap11),
          "the snapshotted prefix-sum frame is not range-partitioned")
    section("Balanced sharding: hash-shuffled prefix sum, no SinglePartition", """
        assign_shards orders the corpus by md5(id) (a deterministic shuffle) and reuses the
        pack_sequences two-stage prefix sum; the plan must stay free of `Exchange
        SinglePartition` — shard assignment at 100 TB is a fully parallel pass over (id,
        size) pairs (q48's oracle is the naive single-window form; equivalence is
        hash-checked).""", n11, "Exchange", "Window")

    # -- 12. dedup_against: hash-only anti join, broadcastable ref ----------
    n12 = nodes(dedup_against(docs.where(F.col("doc_id") % 4 != 0),
                              docs.where(F.col("doc_id") % 4 == 0), broadcast_ref=True))
    check("dedup_against broadcast anti join",
          bool(find(n12, "BroadcastHashJoin", text="LeftAnti")),
          "accepted-fingerprint set not broadcast for the anti join")
    section("Incremental dedup: LEFT ANTI on fingerprints, broadcastable ref", """
        dedup_against collapses the accepted corpus to DISTINCT md5 fingerprints before a
        LEFT ANTI join — the join moves 32-hex-char hashes, never text. With
        broadcast_ref=True the fingerprint set ships to executors (BroadcastHashJoin
        LeftAnti): the incoming batch is deduped with ZERO shuffle of its own rows until
        the within-batch window.""", n12, "Join", "Exchange", "HashAggregate")

    # -- 13. semantic_dedup: within-cluster pairing is an equi-join ---------
    n13 = nodes(semantic_dedup(emb, n_centroids=4, n_iters=1, threshold=0.35))
    no_all_pairs("semantic_dedup no all-pairs", n13,
                 "within-cluster comparison degenerated to an all-pairs join")
    section("Semantic dedup: clustered pairwise pass, never all-pairs", """
        semantic_dedup assigns every vector to a centroid in one Arrow-batched pass (no
        shuffle) and compares pairs through an equi-join on the cluster id — the plan must
        contain no CartesianProduct / BroadcastNestedLoopJoin. The quadratic cost is
        bounded per cluster, the dropped-id side of the final anti-style join is id-only,
        and AQE splits a skewed mega-cluster.""", n13, "Join", "Exchange")

    # -- 14. split_by_cluster: narrow id-only component join ----------------
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    n14 = nodes(corpus.split_by_cluster(docs, pairs, "doc_id"))
    no_all_pairs("split_by_cluster no all-pairs", n14,
                 "component join degenerated to an all-pairs join")
    section("Leakage-controlled split: one narrow component join + hash projection", """
        split_by_cluster joins the corpus to (node, component) bigint pairs — the only
        thing that moves for the split decision; the test/train bucket is a per-row md5
        projection of the cluster representative. Document text never shuffles, and the
        join is broadcastable when the dup graph is small.""", n14, "Join", "Exchange")

    # -- 15. strip_boilerplate_lines: hash-keyed df count + anti join -------
    n15 = nodes(corpus.strip_boilerplate_lines(docs, sep=" ", min_df=380))
    check("strip_lines anti join", bool(find(n15, "Join", text="LeftAnti")),
          "boilerplate removal is not a left-anti join")
    no_all_pairs("strip_lines no all-pairs", n15,
                 "line-df comparison degenerated to an all-pairs join")
    section("Line-level dedup: hash-keyed df count, pruned anti join", """
        strip_boilerplate_lines counts document frequency on xxhash64 of the trimmed line,
        so pass 1 shuffles (hash, id) pairs — never line text. The boilerplate set is
        pruned to df >= min_df BEFORE the LEFT ANTI join (AQE broadcasts it when small);
        the only text shuffle is the per-doc reconstruction groupBy.""", n15, "Join", "Exchange")

    # -- 16. vocab: top-k is TakeOrdered, never a full sort -----------------
    n16 = nodes(vocab(docs, top_k=20))
    check("vocab top-k no full sort", bool(find(n16, "TakeOrderedAndProject")),
          "vocab top-k compiled to a global Sort instead of TakeOrdered")
    section("Vocabulary pass: partial-agg token counts, TakeOrdered top-k", """
        vocab explodes tokens once, counts occurrences and document frequency in one
        hash-keyed aggregation (map-side combine collapses each partition to its distinct
        tokens), and the top-k truncation must compile to TakeOrderedAndProject — a bounded
        per-partition heap + driver merge, never a full shuffle sort of the whole
        vocabulary.""", n16, "TakeOrdered", "Exchange", "HashAggregate")

    # -- 17. profile: every counter in ONE aggregation pass -----------------
    n17 = nodes(docs.select(F.count(F.lit(1)).alias("__n"), F.count("doc_id").alias("__nn"),
                            F.count_distinct(F.col("doc_id")).alias("__nd")))
    n_scans = len(find(n17, "Scan"))
    check("profile single scan", n_scans == 1,
          f"profile-style agg read the table {n_scans} times")
    # the operator itself must also run (bounded ncols-row collect)
    prof_rows = profile(docs).collect()
    check("profile covers all columns", len(prof_rows) == len(docs.columns),
          f"profile returned {len(prof_rows)} rows for {len(docs.columns)} columns")
    section("Data-quality profile: one scan computes every per-column counter", """
        profile builds count/null/distinct aggregates for ALL columns into a single agg
        projection — one table scan, partial aggs combining map-side, and an ncols-sized
        driver collect to pivot. Never one job per column.""",
            n17, "Scan", "HashAggregate", "Exchange")

    # -- 18. knn_join: bucket equi-join, never all-pairs --------------------
    n18 = nodes(sim.knn_join(emb, k=3, num_planes=8, num_tables=2))
    no_all_pairs("knn_join no all-pairs", n18,
                 "self k-NN degenerated to an all-pairs join")
    section("All-rows k-NN join: shuffle equi-join on SRP buckets", """
        knn_join matches candidate pairs through a plain equi-join on (table, bucket) —
        both sides hash-partition on the bucket key, no broadcast (the query side IS the
        corpus), and the plan must contain no CartesianProduct. Cost is per-bucket-size
        squared, bounded by the plane count; the tournament top-k avoids a single-task
        window.""", n18, "Join", "Exchange")

    # -- 19. rebin / phase_fold and the per-cell sequential operators -------
    ev = table("events").select("user_id", "ts", "value")
    series = pack(ev, "series", on="user_id")
    day = 86_400 * 10**6
    folded = phase_fold(series, "series", "ts", period=7 * day)
    n19 = nodes(rebin(folded, "series", "ts", width=day, value_fields=["value"]))
    check("timeseries zero extra shuffle", hash_shuffles(n19) <= 1,
          f"rebin/phase_fold added shuffles beyond the pack ({hash_shuffles(n19)})")
    pair = series.join(pack(ev, "other", on="user_id").select("user_id", "other"),
                       "user_id")
    for name, out, src in (
            ("rebin", rebin(series, "series", "ts", width=day), series),
            ("nest_rolling", nest_rolling(series, "series", "value", 5), series),
            ("nest_cum", nest_cum(series, "series", "value"), series),
            ("nest_ewm", nest_ewm(series, "series", "value", alpha=0.3), series),
            ("nest_dedup", nest_dedup(series, "series", by="value"), series),
            ("nest_align", nest_align(pair, "series", "other", "ts", "value"), pair)):
        ns = nodes(out)
        extra = len(find(ns, "Exchange")) - len(find(nodes(src), "Exchange"))
        check(f"{name} one MapInArrow pass, no shuffle",
              len(find(ns, "MapInArrow")) == 1 and extra == 0,
              f"{len(find(ns, 'MapInArrow'))} MapInArrow nodes, {extra} exchanges "
              f"beyond the input's")
    section("Time-series rebin + phase_fold: one Arrow pass, no shuffle beyond the pack", """
        Folding each user's series is a transform lambda over the packed array; binning it
        is one Arrow-batched MapInArrow pass whose NumPy kernel groups each cell's
        elements by bin where they sit — the ONLY Exchange in the plan is the pack's own
        groupBy. So are nest_rolling, nest_cum, nest_ewm, nest_dedup and nest_align: one
        MapInArrow each, no Exchange beyond their input's. The alternative (explode ->
        groupBy(user, bin) -> repack) would shuffle the full measurement volume twice
        more.""", n19, "Exchange", "Aggregate", "MapInArrow", "Scan")

    # -- 20. concat: plan-level union, no data movement ---------------------
    n20 = nodes(NestedFrame.concat([NestedFrame(orders.where(F.col("o_orderkey") % 2 == r))
                                    for r in (0, 1)]).df)
    no_shuffle("concat no shuffle", n20, "concat introduced a shuffle")
    section("concat: vertical stacking is plan concatenation", """
        NestedFrame.concat folds unionByName — each input's partitions stream straight
        into the output with zero Exchange; schema alignment (NULL-padding missing
        columns/fields) is a projection.""", n20, "Union", "Scan", "Project", limit=400)

    # -- 21. quantized_topk: broadcast + tournament, int codes --------------
    qemb = sim.quantize_embeddings(emb)
    n21 = nodes(sim.quantized_topk(qemb, qemb.where(F.col("vec_id") < 3), k=3))
    check("quantized_topk broadcast", bool(find(n21, *BROADCAST)), "query side not broadcast")
    check("quantized_topk no single-task window",
          not find(n21, text="partial_buckets") and bool(find(n21, "Window")),
          "tournament structure missing")
    section("Quantized top-k: int8 codes scan 4x less, query side broadcasts", """
        The corpus side streams int8 codes (a quarter of the float32 bytes); the small
        query set broadcasts; ranking uses the same two-stage tournament as
        brute_force_topk, so no per-query hotspot task.""", n21, "Join", "Window", "Exchange")

    # -- 22. periodogram + features: zero shuffle beyond the pack -----------
    nfp = pack(ev, "lc", on="user_id", sort_within=["ts"])
    base_ex = len(find(nodes(nfp), "Exchange"))
    n22 = nodes(lightcurve_features(
        periodogram(nfp, "lc", "ts", "value", [0.5, 1.0]), "lc", "ts", "value"))
    n_ex22 = len(find(n22, "Exchange"))
    check("periodogram+features zero extra shuffle", n_ex22 == base_ex,
          f"exchanges {n_ex22} != pack's {base_ex}")
    section("Periodogram + feature extraction: zero shuffle beyond the pack", """
        The Lomb-Scargle sweep and the 8-feature vector are pure per-row HOF projections —
        the ONLY Exchange in the whole plan is the pack's own child groupBy. Trig sweeps
        over 100 TB of light curves add no data movement at all.""",
            n22, "Exchange", "Scan", "HashAggregate", limit=400)

    # -- 23. dedup_passages: map-side combine, no cartesian -----------------
    n23 = nodes(dedup_passages(docs, window=8))
    check("dedup_passages partial agg", map_side(n23, "partial_count"),
          "passage count not map-side combined (hot-passage skew hazard)")
    check("dedup_passages no cartesian", not find(n23, "CartesianProduct"),
          "cartesian product in passage dedup")
    section("Exact substring dedup: partial-agg passage counts, hash-only shuffles", """
        Window hashes aggregate with map-side combine (partial_count before the Exchange),
        so a boilerplate passage repeated millions of times cannot hot-spot one reducer;
        only hashes and ids shuffle, the text column stays at doc grain.""",
            n23, "Aggregate", "Exchange", limit=500)

    # -- 24. semantic_decontaminate: broadcast benchmark, no sort-merge -----
    n24 = nodes(sim.semantic_decontaminate(emb.where(F.col("vec_id") % 20 != 0),
                                           emb.where(F.col("vec_id") % 20 == 0), 0.9))
    check("semantic_decontaminate broadcast", bool(find(n24, *BROADCAST)),
          "benchmark not broadcast")
    check("semantic_decontaminate no sort-merge join", not find(n24, "SortMergeJoin"),
          "corpus side shuffled for the benchmark join")
    section("Semantic decontamination: benchmark broadcasts, corpus never shuffles", """
        The benchmark collapses to ONE row of pre-normalized vectors and broadcasts; the
        corpus-side max-cosine is a per-row HOF, so the scan streams straight through with
        no shuffle.""", n24, "Join", "Exchange", "Scan", limit=500)

    # -- 25. chunk_documents / winnow_fingerprints: zero shuffle ------------
    n25a = nodes(corpus.chunk_documents(docs, 64, 48))
    n25b = nodes(winnow_fingerprints(docs, k=3, window=4))
    no_shuffle("chunk_documents zero shuffle", n25a, "chunker plans an Exchange")
    no_shuffle("winnow_fingerprints zero shuffle", n25b, "winnowing plans an Exchange")
    section("Chunking & winnowing: pure projection + generate, zero Exchange", """
        Both operators are one let-bound HOF projection followed by an explode — text bytes
        never leave their partition; downstream matching shuffles only the 8-hex
        fingerprints.""", n25a + n25b, "Generate", "Exchange", "Scan", limit=500)

    # -- 26. quality_bins: global ntile WITHOUT a single-task window --------
    scored = docs.where(F.col("text").isNotNull()).select(
        "doc_id", F.length("text").cast("double").alias("score"))
    with snapshot_plans() as snap26:
        n26 = nodes(corpus.quality_bins(scored, "score", 5))
    n26 = sum(snap26, []) + n26
    check("quality_bins no global window",
          not find(n26, "ShuffleExchange", text="SinglePartition"),
          "global ntile funnels through one partition")
    check("quality_bins range partitioning", range_prefix_sum(snap26),
          "the snapshotted prefix-sum frame is not range-partitioned")
    section("quality_bins: exact global ntile via distributed prefix sum", """
        The global row index comes from range-partitioned per-partition running counts plus
        broadcast driver offsets — no `ntile() OVER (ORDER BY ...)` single-task Exchange
        anywhere in the plan; only (id, score) pairs shuffle. The join back to the input
        is id-keyed (broadcast at this toy scale; a co-partitioned hash join at 100 TB).
        The range-partitioned window runs in the eager `snapshot` of the prefix-sum frame,
        so its nodes come from that frame's plan.""", n26, "Exchange", "Window", "Join", limit=500)

    # -- 27. classifier: broadcast weights, map-side-combined gradient ------
    labeled = docs.withColumn("y", (F.col("lang") == "en").cast("int"))
    wdf = train_quality_classifier(labeled, "y", dim=16, epochs=1, lr=1.0)
    n27 = nodes(classifier_score(docs, wdf, dim=16))
    feats = hashed_bow(docs, dim=16).withColumnRenamed("doc_id", "__id")
    n27g = nodes(feats.join(F.broadcast(wdf), on="bucket", how="left")
                 .groupBy("bucket").agg(F.sum(F.col("weight") * F.col("x")).alias("g")))
    check("classifier_score broadcast weights", bool(find(n27, "BroadcastHashJoin")),
          "weight join is not broadcast")
    no_all_pairs("classifier_score no nested-loop join", n27,
                 "scoring plans an all-pairs join")
    check("classifier gradient partial agg",
          map_side(n27g, "partial_") and bool(find(n27g, "BroadcastHashJoin")),
          "gradient epoch lacks map-side combine or broadcast weight join")
    section("Trained classifier: broadcast weight joins, combined gradients", """
        `classifier_score` joins hashed features against the dim+1 weight rows via
        BroadcastHashJoin (weights never shuffle the corpus); the per-epoch gradient of
        `train_quality_classifier` partial-aggregates map-side, so each task emits at most
        dim+1 rows regardless of corpus size — the driver only ever collects the dim+1-row
        gradient. The id-keyed join back to the input is a co-partitioned hash join
        (sort-merge here; both sides are corpus-sized at 100 TB, so broadcasting would be
        wrong).""", n27 + n27g, "Join", "Exchange", "HashAggregate")

    # -- 28. ANN assignment: one Arrow pass at every centroid count -------
    n28 = []
    for n_cent in (8, 100, 256):
        cents = [(i, [123.456789 + i] + [float(i % 7)] * 63) for i in range(n_cent)]
        a28 = sim.with_nearest_ids(emb, F.col("embedding").cast("array<double>"), cents, 4)
        analyzed, phys = plan_tree(nodes(a28, plan="analyzed")), nodes(a28)
        n28 += phys
        check(f"centroid assignment at {n_cent} centroids is one Arrow pass",
              bool(find(phys, "MapInArrow")) and not find(phys, "Join")
              and "123.456" not in analyzed and len(analyzed) < 20000,
              f"expected a join-free MapInArrow plan with no centroid "
              f"coordinate (analyzed len={len(analyzed)})")
    section("ANN centroid assignment: one Arrow pass, O(1) plan at any count", """
        `with_nearest_ids`, `pq_encode`, `with_ivf_residuals` and the k-means / PQ Lloyd
        rounds assign in ONE Arrow-batched pass (`similarity._vector_pass`): the centroid
        matrix or codebooks ship inside the task, so at 8, 100 and 256 centroids the plan
        is a MapInArrow with no join and no centroid coordinate, and its size does not grow
        with n_centroids. Up to `_HOF_CENTROID_MAX` (128) the scores replay the Spark
        `cosine` / `_l2sq` folds bit for bit; above, one BLAS product per batch (the FAISS
        shape) — what a 10^4-10^5-centroid 100 TB IVF needs.""",
            n28, "Join", "Exchange", "MapInArrow")

    # -- 29. PII / code-quality filters are map-only ------------------------
    n29, n29c = nodes(redact_pii(docs, "text")), nodes(with_code_signals(docs, "text"))
    no_shuffle("redact_pii adds no shuffle", n29, "PII scrub should be a pure projection")
    no_shuffle("code signals add no shuffle", n29c,
               "code-quality signals should be a pure projection")
    check("PII/code filters never leave the JVM", not find(n29 + n29c, *PYTHON),
          "scrub/signal projections fell back to Python")
    section("PII scrub and code-quality signals: map-only, JVM-side", """
        `redact_pii` (Luhn-gated) and `with_code_signals` plan as pure projections over the
        scan — zero Exchange, zero Python (the HOF pieces are CodegenFallback: interpreted
        Catalyst expressions, still JVM-side and fused into the scan stage) — so at 100 TB
        they ride along whatever stage reads the corpus.""",
            n29 + n29c, "Exchange", "WholeStageCodegen", "Scan", limit=400)

    # -- 30. Bloom dedup: broadcast bitmap, no cartesian --------------------
    bloom = BloomBitmap([0] * (1 << 10), 1 << 16, 4)
    n30 = nodes(bloom_dedup_against(docs, docs.limit(10), bloom=bloom))
    check("bloom bitmap is broadcast", bool(find(n30, *BROADCAST)),
          "the one-row bitmap frame should broadcast")
    check("bloom dedup no CartesianProduct", not find(n30, "CartesianProduct"),
          "bitmap cross join planned as a real cartesian")
    section("Bloom-prefiltered dedup: broadcast bitmap, hash-only anti-join", """
        The bitmap rides as ONE broadcast single-row table (the random_projection pattern —
        never plan literals); definite-new rows skip the anti-join entirely, and only Bloom
        hits shuffle their 32-hex fingerprints. Per-ingest cost at 100 TB: a map-only bit
        probe plus an anti-join whose left side is ~the true duplicates.""",
            n30, "Join", "Exchange", limit=400)

    # -- 31. PageRank: O(1) lineage across iterations -----------------------
    edges = docs.select(F.col("doc_id").alias("src"),
                        ((F.col("doc_id") * 7 + 13) % 100).alias("dst"))
    n31a, n31b = nodes(pagerank(edges, iters=2)), nodes(pagerank(edges, iters=5))
    size_a, size_b = len(plan_tree(n31a)), len(plan_tree(n31b))
    check("pagerank lineage is cut per iteration",
          bool(find(n31b, "RDDScan", text="ExistingRDD")),
          "rank frame should scan the checkpointed RDD, not replay lineage")
    check("pagerank plan size is O(1) in iterations", size_b < 1.5 * size_a + 2000,
          f"plan grows with iterations ({size_a} -> {size_b} chars)")
    check("pagerank no CartesianProduct", not find(n31b, "CartesianProduct"),
          "dangling-mass fold planned as a real cartesian")
    section("PageRank: checkpoint-cut lineage, broadcast dangling mass", """
        Each iteration's rank frame is eagerly localCheckpoint-ed, so the plan of iteration
        N reads ExistingRDD and its SIZE does not grow with N (no lineage replay, no
        codegen blowup at iters=50). The dangling-mass one-row aggregate folds back via
        broadcast; the only per-iteration shuffles are the contribution groupBy(dst) and
        the node join — the irreducible PageRank shape.""",
            n31b, "Join", "Exchange", "RDDScan", limit=500)

    # -- 32. Chat assembly: ONE shuffle -------------------------------------
    n32 = nodes(assemble_conversations(
        table("events").withColumn("role", F.lit("user"))
        .withColumn("content", F.col("event_type")),
        "user_id", "ts", "role", "content", tiebreak="event_id",
    ).select("user_id", render_template("turns").alias("txt"),
             truncate_to_budget("turns", 64).alias("kept")))
    check("chat assembly is one shuffle", hash_shuffles(n32) == 1,
          f"expected exactly 1 hash exchange, saw {hash_shuffles(n32)}")
    check("render/truncate add no shuffle or Python",
          not find(n32, "MapInPandas", "BatchEvalPython"),
          "template render / budget truncation left the JVM")
    section("Conversation assembly: one groupBy shuffle, HOF render/truncate", """
        assemble_conversations plans exactly ONE hash exchange (the conversation-key
        groupBy; ordering happens inside array_sort in the aggregation buffer). Template
        rendering and keep-last budget truncation are pure HOF projections on the turns
        array — no second shuffle, no Python, no explode.""",
            n32, "Exchange", "Aggregate", limit=400)

    # -- 33. Sketches: partial agg caps the shuffle at sketch size ----------
    n33 = nodes(hll_registers(table("lineitem"), "l_partkey", b=6, by=["l_returnflag"]))
    check("HLL partial max runs map-side before the exchange", map_side(n33, "partial_max"),
          "no map-side partial_max below the exchange in the HLL plan")
    tokens = docs.select(F.explode(words(F.col("text"))).alias("w"))
    n33b = nodes(cms_sketch(tokens, "w", depth=4, width=64))
    check("CMS partial count runs map-side before the exchange",
          map_side(n33b, "partial_count"),
          "no map-side partial_count below the exchange in the CMS plan")
    section("HLL / Count-Min sketches: the exchange carries cells, not values", """
        Both sketch builders aggregate with partial map-side functions (max of rho / count
        per cell), so each task contributes at most 2^b (HLL) or depth*width (CMS) rows per
        group to the shuffle — the sketch property that makes cardinality/frequency
        monitoring affordable at 100 TB. (Each check finds its partial aggregate below the
        exchange in the plan tree.)""", n33, "Exchange", "HashAggregate", limit=400)

    # -- 34. span_corrupt: zero shuffles (round-10 array-HOF rewrite) -------
    n34 = nodes(span_corrupt(docs, "text"))
    n_ex34 = len(find(n34, "ShuffleExchange"))
    check("span_corrupt plans zero exchanges", n_ex34 == 0,
          f"expected 0 shuffle exchanges (per-row array HOFs), saw {n_ex34}")
    section("T5 span corruption: zero exchanges, pure per-row array HOFs", """
        Every output value depends only on the document's own token list, so masked flags,
        span starts and both output strings are array higher-order functions over the
        tokenized text — no posexplode, no window, no re-group. Corpus text never crosses
        the wire at all (round 10; previously one shared doc_id exchange).""",
            n34, "Exchange", "Project", "Scan", limit=400)

    # -- 35. PCA transform: broadcast matrix, zero shuffle, pure JVM --------
    model = pca_fit(emb, k=8, vec_col="embedding", dim=64)
    n35 = nodes(pca_transform(emb, model, "embedding"))
    check("PCA projection is broadcast + zero shuffle",
          bool(find(n35, "BroadcastExchange")) and not find(n35, "ShuffleExchange"),
          "projection should broadcast the matrix row and add no exchange")
    check("PCA projection stays in the JVM", not find(n35, *PYTHON, "MapInArrow"),
          "the transform (not the fit) must be a pure HOF projection")
    section("PCA/whitening projection: one broadcast matrix row, no Python", """
        pca_fit reduces each partition to one (n, sum, gram) moment row via mapInArrow
        (driver collects numPartitions rows, never data); the transform ships the (k x d)
        matrix as ONE broadcast row and projects with transform/zip_with/aggregate HOFs —
        O(1) plan nodes, zero shuffle, whole-stage codegen.""",
            n35, "Broadcast", "Project", limit=400)

    # -- 36. pq_topk: one Arrow pass (code, ADC, exact distance) ----------
    n36 = nodes(sim.pq_topk(emb, emb.where(F.col("vec_id") < 10), k=3, n_sub=4,
                            n_centroids=8, refine=4), plan="analyzed")
    relations = find(n36, "Relation")
    check("pq_topk ADC scan is the Arrow kernel", bool(find(n36, "MapInPandas")),
          "expected a MapInPandas ADC scan in the analyzed plan")
    check("pq_topk builds no LUT expression column and no code crossJoin",
          not find(n36, text="__lut") and not find(n36, "Join", text="Cross"),
          "expected no __lut column and no cross join in the analyzed plan")
    check("pq_topk reads the corpus once, with no join back to it",
          len(relations) == 1 and not find(n36, "Join"),
          f"expected one corpus relation and no join; got {len(relations)} relation(s)")
    section("PQ top-k: one Arrow pass — code, ADC and exact distance per batch", """
        pq_topk reads the corpus once. Each Arrow batch of the one MapInPandas kernel
        computes its PQ codes in NumPy (the pq_encode fold, bit for bit), scores them with
        n_sub lookups into each query's driver-built LUT (Jégou 2011 ADC, the same kernel
        as ivfpq_topk, which also computes each row's coarse cell there), keeps the batch's
        refine*k best per query and computes their exact squared L2 from the vectors the
        batch already holds. The tournament then keeps the global refine*k by ADC, and one
        more row_number over the same query_id partitioning ranks them exactly. So the
        plan has one corpus relation, no LUT column, no codes x queries crossJoin and no
        join back to the corpus for the re-rank. A stored IVF-PQ index
        (ivf_store.ivfpq_search) scans codes only and keeps the join re-rank.""",
            n36, "MapInPandas", "Relation", limit=400)

    # -- 37. eTLD+1 lookup: zero shuffle, one literal map, codegen-sized ----
    docs37 = docs.select("doc_id", F.concat(
        F.lit("https://a.b.example"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".co.uk/x")).alias("url"))
    n37 = nodes(with_registrable_domain(docs37, url_col="url"))
    size37, rules37 = len(plan_tree(n37)), plan_tree(n37).count("co.uk")
    no_shuffle("registrable_domain adds no shuffle", n37,
               "eTLD+1 lookup must be a map-only projection")
    check("registrable_domain plan stays codegen-sized",
          bool(find(n37, "WholeStageCodegen", text="(1)")) and size37 < 40000
          and rules37 <= 2,
          f"rule map inlined more than once (len={size37}, "
          f"occurrences={rules37}) — 64KB codegen limit risk")
    section("eTLD+1 registrable domains: let-bound rule map, zero shuffle", """
        The public-suffix lookup is O(max_rule_depth) map probes per row with the rule map
        and label array LET-BOUND through a single-element transform lambda, so the
        ~560-entry snapshot map appears ONCE in the plan (inlining it at each of ~3*depth
        references overflowed the JVM 64KB codegen method limit and dropped the stage to
        interpreted mode). Above 1k rules (the full PSL via load_psl_rules) the map ships
        as one broadcast row instead. Either way: map-only, no exchange.""",
            n37, "Project", "Scan", limit=400)

    # -- 38. WordPiece encode: zero shuffle, vocab map bound once -----------
    docs38 = docs.select("doc_id", "text")
    letters = [chr(c) for c in range(ord("a"), ord("z") + 1)]
    pieces38 = letters + ["##" + c for c in letters] + ["##he", "the", "##ue"]
    n38 = nodes(wordpiece_encode(docs38, pieces38))
    n_he = plan_tree(n38).count("##he")
    no_shuffle("wordpiece_encode adds no shuffle", n38,
               "greedy longest-match must be a map-only projection")
    check("wordpiece vocab map appears once in the plan", n_he <= 1,
          f"vocab inlined {n_he} times — let-binding broken")
    section("WordPiece encode: let-bound vocab map, zero shuffle", """
        The greedy longest-match-first fold probes the piece map O(len * max_piece_len)
        times per word, but the ~60-entry map literal is LET-BOUND through a single-element
        transform lambda (the eTLD+1 plan-size guard) so it rides the plan ONCE. No
        exchange, no UDF, no join: token arrays never leave the row.""",
            n38, "Project", "Scan", limit=400)

    # -- 39. prefix-LM split: zero shuffle ----------------------------------
    n39 = nodes(prefix_lm_split(docs38))
    no_shuffle("prefix_lm_split adds no shuffle", n39,
               "the pivot is a per-row projection over the token array")
    section("UL2 prefix-LM split: single projection, zero shuffle", """
        The S-denoiser pivot is computed per row from md5(seed:id) and the token array
        sliced in place — unlike span corruption (which needs a window over exploded tokens
        and costs its one exchange), the prefix objective never leaves the row.""",
            n39, "Project", "Scan", limit=400)

    # -- 40. exact top-k frequent: TakeOrderedAndProject, no window --------
    w40 = docs38.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
    n40 = nodes(topk_frequent(w40.where(F.col("w") != ""), "w", 5))
    check("global top-k frequent uses TakeOrderedAndProject",
          bool(find(n40, "TakeOrderedAndProject")) and not find(n40, "Window"),
          "global candidate selection must not be a single-partition window")
    check("top-k phase-1 exchange carries fingerprints",
          below_shuffle(find(n40, text="xxhash64")),
          "expected the xxhash64 fingerprint below the aggregation exchange")
    section("Exact top-k frequent: fingerprint shuffle + TakeOrderedAndProject", """
        Phase 1 aggregates 8-byte xxhash64 fingerprints (map-side partial counts; the
        exchange never carries the strings); global candidate selection compiles to
        TakeOrderedAndProject — each task keeps its local top-2k and the driver merges, no
        single-partition window shuffle. Phase 2 re-counts only the broadcast candidates'
        rows by actual value.""", n40, "TakeOrdered", "Exchange", "BroadcastHashJoin", limit=400)

    # -- 41. IVF append: only assigned partition dirs gain files; search
    #        over the grown store still partition-prunes ------------------
    d41 = tempfile.mkdtemp(prefix="plan41_ivf_")

    def cid_dirs():
        return {d: sorted(os.listdir(os.path.join(d41, d)))
                for d in os.listdir(d41) if d.startswith("__cid=")}

    try:
        cents41 = sim.ivf_centroids(emb, n_centroids=4, n_iters=1)
        write_ivf_index(emb.where(F.col("vec_id") % 2 == 0), d41, centroids=cents41)
        before41 = cid_dirs()
        counts41 = append_ivf_index(emb.where(F.col("vec_id") % 2 == 1), d41)
        touched = {f"__cid={cid}" for cid, _ in counts41}
        after41 = cid_dirs()
        untouched_ok = all(after41[d] == before41.get(d, [])
                           for d in after41 if d not in touched)
        check("ivf append writes only the assigned partition dirs",
              set(after41) == set(before41) | touched and untouched_ok,
              f"dirs before={sorted(before41)} touched={sorted(touched)} "
              f"after={sorted(after41)}")
        n41 = nodes(ivf_search(spark, d41, emb.where(F.col("vec_id") == 0),
                               k=2, n_probe=1))
        check("search over an appended store still partition-prunes",
              pushed(n41, "PartitionFilters", "__cid"),
              "expected a __cid PartitionFilter on the grown store's scan")
        section("Incremental IVF append: partition-dir discipline + pruned search", """
            append_ivf_index assigns new vectors to the STORED sidecar centroids and
            appends with mode('append') + partitionBy — only directories that receive data
            are touched (verified above on the actual filesystem), so a daily append to a
            100 TB index rewrites nothing and invalidates no existing files. A search over
            the grown store plans the same literal __cid PartitionFilters as a
            freshly-written one: appends never degrade the planning-time pruning.""",
                n41, "Scan", limit=400)
    finally:
        shutil.rmtree(d41, ignore_errors=True)

    # -- write PLANS.md -----------------------------------------------------
    doc = [
        "# PLANS — physical-plan evidence for the scale claims", "",
        "Generated by `python tools/plan_audit.py` (re-run any time; the "
        "script FAILS if a claim stops holding). Each section: the claim, "
        "then the plan nodes its assertions matched, walked by "
        "`plans.inspect.plan_nodes` (one line per node, indented by depth; "
        "a scan prints its PushedFilters / PartitionFilters / ReadSchema) "
        f"at `{sf}`.", "",
    ]
    for title, why, plan in sections:
        doc += [f"## {title}", "", why, "", "```", plan, "```", ""]
    if failures:
        doc += ["## FAILURES", ""] + [f"- {f}" for f in failures]
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(doc))

    print("".join(f"FAIL {f}\n" for f in failures) + "PLANS.md written;",
          "ALL PLAN CHECKS PASS" if not failures else f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
