"""Link-graph analytics for web-corpus curation.

Beyond-reference (the reference, ``/root/reference/src/nested_pandas``,
has no graph ops): crawl curation ranks pages/domains by link
authority — Common Crawl publishes exactly this (host/domain-level
PageRank and harmonic centrality) and RefinedWeb-class pipelines use
such ranks as quality priors. This module provides degree statistics
and a fixed-iteration PageRank as plain DataFrame programs.

PageRank, Spark-first: each iteration is one join (ranks → edges on
``src``) plus one aggregation (contributions by ``dst``) — the textbook
distributed power iteration. Dangling-node mass is collected with a
one-row aggregate and folded back via a broadcast cross join (never a
driver collect), and the rank frame is a ``snapshot`` (``session.py``)
every iteration so plan depth and lineage stay O(1) across iterations.

At 100 TB: edges pre-partitioned by ``src`` are reused every iteration;
the per-iteration shuffles (contribution groupBy ``dst``, join back to
the node list) are the irreducible PageRank shape — there is no
all-pairs stage anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import snapshot

__all__ = ["degree_stats", "pagerank"]


def degree_stats(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node (out_degree, in_degree) over the deduplicated edge set.

    Two partial-aggregated counts full-outer-joined on the node id —
    every node incident to an edge appears; missing direction counts
    are 0.
    """
    e = _clean_edges(edges, src, dst)
    outd = e.groupBy(F.col(src).alias("node")).agg(
        F.count("*").alias("out_degree")
    )
    ind = e.groupBy(F.col(dst).alias("node")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        outd.join(ind, on="node", how="full_outer")
        .fillna(0, ["out_degree", "in_degree"])
    )


def _clean_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        edges.select(src, dst)
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    out: str = "rank",
) -> DataFrame:
    """Fixed-iteration PageRank over the deduplicated edge set.

    Nodes are the edge endpoints; ranks start uniform at ``1/N``. Each
    step: ``r' = (1-d)/N + d * (in-contributions + dangling_mass/N)``
    where a node's contribution is ``rank/out_degree`` along each out
    edge and dangling mass is the summed rank of zero-out-degree nodes
    (redistributed uniformly — the standard correction that keeps
    ranks summing to 1). Deterministic given the graph; no RNG, no
    driver-side collect, lineage cut per iteration.

    Returns ``(node, rank)``.
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    e = _clean_edges(edges, src, dst)
    deg = e.groupBy(F.col(src).alias("node")).agg(
        F.count("*").alias("__outdeg")
    )
    # node set with its dangling flag (no out-edges), decided ONCE — the
    # per-iteration dangling mass is then a filter + sum over the rank
    # frame instead of an anti-join that would re-derive the edge
    # distinct and the degree aggregation (3 shuffles + an edge rescan
    # per iteration, round 10)
    nodes = (
        e.select(F.col(src).alias("node"))
        .union(e.select(F.col(dst).alias("node")))
        .distinct()
        .join(deg.select("node", F.lit(False).alias("__nd")), "node", "left")
        .select("node", F.coalesce("__nd", F.lit(True)).alias("__dangling"))
        .transform(snapshot)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node").withColumn(out, F.lit(0.0))
    # (src, dst, outdeg) reused every iteration — materialize once
    links = (
        e.join(deg, e[src] == deg["node"])
        .select(F.col(src).alias("__src"), F.col(dst).alias("__dst"), "__outdeg")
        .transform(snapshot)
    )
    ranks = nodes.withColumn(out, F.lit(1.0 / n))
    for _ in range(iters):
        contribs = (
            links.join(ranks, links["__src"] == ranks["node"])
            .select(
                F.col("__dst").alias("node"),
                (F.col(out) / F.col("__outdeg")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__contrib"))
        )
        dangling = ranks.where(F.col("__dangling")).agg(
            F.coalesce(F.sum(out), F.lit(0.0)).alias("__dang")
        )
        ranks = (
            nodes.join(contribs, on="node", how="left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "__dangling",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__contrib"), F.lit(0.0))
                        + F.col("__dang") / F.lit(float(n))
                    )
                ).alias(out),
            )
            .transform(snapshot)
        )
    ranks = ranks.select("node", out)
    return ranks
