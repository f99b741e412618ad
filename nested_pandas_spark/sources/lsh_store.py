"""Materialized SRP-LSH index: the storage layer of the angular-LSH story.

``pipeline.similarity.lsh_topk`` hashes the corpus into sign-random-
projection buckets on the fly — right for ad-hoc search, wasteful for a
corpus queried repeatedly. This module computes every vector's bucket per
hash table ONCE, at ingest, and writes the corpus parquet **partitioned by
(table, bucket)** — one directory per LSH posting list — with the hash
parameters in an underscore-prefixed sidecar (invisible to Spark's scans,
same convention as ``_SUCCESS``). A search probes only its matching
buckets via a **static partition filter** (``PartitionFilters`` in the
scan): with 8 planes per table the probed slice is ~1/256 of the corpus
per (query, table), so a query batch reads gigabytes, not the 100 TB.

Storage cost is the standard LSH trade: ``num_tables`` copies of the
corpus (each table is an independent partitioning). ``multi_probe``
widens recall at QUERY time only — extra probed buckets, no extra storage
— which is exactly why the probes-not-tables knob matters at this layer.

The reference library has no ANN surface at all (SURVEY §2); this is part
of the beyond-reference scale path, sharing the deterministic md5-derived
planes (``plane_component``) so results are reproducible and
oracle-checkable.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.nested import quote
from ..pipeline.similarity import (
    _per_query_topk,
    _srp_probe_sql,
    _srp_tables_expr,
    cosine,
)
from ..session import cached

__all__ = ["write_lsh_index", "read_lsh_params", "lsh_search",
           "append_lsh_index"]

_SIDECAR = "_lsh_params.json"


def write_lsh_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    num_tables: int = 1,
    dim: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``corpus`` as an LSH-bucket-partitioned parquet index at
    ``path``.

    Bucketing is a plan-literal projection (the ±1 plane matrix rides the
    plan — zero shuffle to compute); the ``num_tables`` replication is one
    ``explode`` over per-table buckets, and the write adds one hash
    repartition on (table, bucket) so each posting-list directory is a few
    well-sized files instead of one-per-input-task fragments.
    """
    tables = _srp_tables_expr(
        f"CAST({quote(vec_col)} AS ARRAY<DOUBLE>)", num_planes, num_tables,
        dim=dim,
    )
    (
        corpus.select("*", F.posexplode(tables).alias("__tbl", "__bucket"))
        .repartition(F.col("__tbl"), F.col("__bucket"))
        .write.mode(mode)
        .partitionBy("__tbl", "__bucket")
        .parquet(path)
    )
    with open(os.path.join(path, _SIDECAR), "w") as f:
        json.dump(
            {"num_planes": num_planes, "num_tables": num_tables, "dim": dim},
            f,
        )


def read_lsh_params(path: str) -> dict:
    with open(os.path.join(path, _SIDECAR)) as f:
        return json.load(f)


def append_lsh_index(
    new_vectors: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append ``new_vectors`` to an existing :func:`write_lsh_index`
    store: bucket with the STORED hash parameters (sidecar — the ±1
    plane matrix is derived from them deterministically, so appended
    rows land in exactly the posting lists a full re-write would have
    put them in) and append into the matching ``__tbl=/__bucket=``
    partition directories only. (write A, append B) searches identically
    to (write A∪B): SRP bucketing depends only on the plane parameters,
    which append never changes — LSH needs no re-train trigger, only the
    usual small-file compaction as appends accumulate. Returns the
    number of (row, table) postings appended."""
    params = read_lsh_params(path)
    num_planes, num_tables = params["num_planes"], params["num_tables"]
    # fail fast on a frame from a different embedding space / layout —
    # same guards as the IVF appends (dim probe + column-set check)
    row = new_vectors.select(F.size(F.col(vec_col)).alias("__n")).first()
    if (params.get("dim") is not None and row is not None
            and row["__n"] is not None and row["__n"] != params["dim"]):
        raise ValueError(
            f"append: {vec_col!r} has {row['__n']} dimensions but the "
            f"store at {path!r} was hashed with dim={params['dim']}"
        )
    store_fields = {
        f.name for f in new_vectors.sparkSession.read.parquet(path).schema
        if not f.name.startswith("__")
    }
    if {f.name for f in new_vectors.schema} != store_fields:
        raise ValueError(
            f"append: column set {sorted(f.name for f in new_vectors.schema)} "
            f"does not match the store's {sorted(store_fields)} at {path!r}"
        )
    tables = _srp_tables_expr(
        f"CAST({quote(vec_col)} AS ARRAY<DOUBLE>)", num_planes, num_tables,
        dim=params["dim"],
    )
    staged = (
        new_vectors.select(
            "*", F.posexplode(tables).alias("__tbl", "__bucket")
        )
        .repartition(F.col("__tbl"), F.col("__bucket"))
    )
    # cache so the write and the returned count observe ONE evaluation
    # (a nondeterministic input can't desynchronize them)
    with cached(staged) as staged:
        staged.write.mode("append").partitionBy(
            "__tbl", "__bucket").parquet(path)
        return staged.count()


def lsh_search(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    multi_probe: int = 0,
) -> DataFrame:
    """Approximate top-k against a :func:`write_lsh_index` store —
    identical math (and output) to ``lsh_topk`` with the same parameters,
    at a fraction of the scan.

    Each query's probe buckets per table (its own bucket plus
    ``multi_probe`` smallest-margin bit flips — see
    :func:`~nested_pandas_spark.pipeline.similarity.srp_probe_buckets`)
    are computed driver-side from the query vectors — the query side of an
    ANN search is small by contract — and applied as a LITERAL filter on
    the partition columns, so Catalyst prunes non-probed posting-list
    directories at planning time (``PartitionFilters``; unprobed files are
    never opened). The probed slice joins the broadcast query probes on
    (table, bucket) and exact-reranks; the same candidate pair colliding
    in several tables dedups before ranking, exactly as in ``lsh_topk``.
    """
    params = read_lsh_params(path)
    num_planes, num_tables = params["num_planes"], params["num_tables"]
    vec = F.col(vec_col).cast("array<double>")
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            vec.alias("__qv"),
            F.posexplode(
                F.expr("array(" + ",".join(
                    _srp_probe_sql(
                        f"CAST({quote(vec_col)} AS ARRAY<DOUBLE>)",
                        num_planes, multi_probe,
                        params["dim"] or 256, t * num_planes,
                    )
                    for t in range(num_tables)
                ) + ")")
            ).alias("__tbl", "__probes"),
        )
        .select("query_id", "__qv", "__tbl",
                F.explode("__probes").alias("__bucket"))
    )
    probes = [(r["__tbl"], r["__bucket"])
              for r in q.select("__tbl", "__bucket").distinct().collect()]
    # literal per-table bucket sets -> static partition pruning; tiny by
    # contract (<= queries x tables x (1 + multi_probe) pairs)
    by_tbl: dict[int, set[int]] = {}
    for t, b in probes:
        by_tbl.setdefault(t, set()).add(b)
    cond = None
    for t, buckets in sorted(by_tbl.items()):
        c = (F.col("__tbl") == t) & F.col("__bucket").isin(sorted(buckets))
        cond = c if cond is None else cond | c
    store = spark.read.parquet(path).where(cond)
    c = store.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
        F.col("__tbl").cast("int").alias("__tbl"),
        F.col("__bucket").cast("long").alias("__bucket"),
    )
    scored = (
        c.join(F.broadcast(q), on=["__tbl", "__bucket"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__qv"), F.col("__cv")).alias("cos_sim"),
        )
        .distinct()
    )
    return _per_query_topk(scored, k)
