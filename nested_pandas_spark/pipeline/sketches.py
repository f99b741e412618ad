"""Mergeable cardinality sketches (HyperLogLog) for corpus monitoring.

At 100 TB you cannot ``count_distinct`` every slice you care about — the
distinct-key shuffle is the whole dataset.  A HyperLogLog sketch reduces a
group's distinct count to ``m = 2**b`` small integer registers that

* aggregate with a plain ``max`` (so Spark's partial aggregation collapses
  each map task's contribution to at most ``m`` rows per group before the
  shuffle — the exchange carries registers, never values), and
* merge across sketches with the same ``max`` (register-wise), so daily
  sketches roll up into monthly ones without touching the raw data.

Everything is md5-derived and pure integer/string arithmetic, so the
register table is bit-identical between Spark and the DuckDB oracle
(Flajolet et al. 2007, "HyperLogLog: the analysis of a near-optimal
cardinality estimation algorithm"; the small-range linear-counting
correction follows the HLL paper's empirical rule).

Spark's builtin ``approx_count_distinct`` is the production fast path; this
module exists for when the *sketch itself* must be a first-class,
persistable, mergeable dataset (incremental corpus monitoring), and to make
the estimate deterministic and oracle-checkable.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..tuning import _ensure_parallelism

__all__ = [
    "hll_rho",
    "hll_registers",
    "hll_merge",
    "hll_estimate",
    "hll_count_distinct",
    "cms_sketch",
    "cms_merge",
    "cms_estimate",
    "histogram_sketch",
    "histogram_merge",
    "histogram_quantiles",
    "hll_overlap",
    "heavy_hitters",
    "topk_frequent",
]

# Registers use the first 8 hex chars of md5 for the bucket index and the
# next 15 hex chars (60 bits) for the rank; rho in [1, 61].
_TAIL_HEX = 15
_RHO_EMPTY = 4 * _TAIL_HEX + 1


def _hll_cols(value: Column, b: int) -> tuple[Column, Column]:
    """(register index, rho) for one value — pure string/integer ops.

    rho = 1 + number of leading zero *bits* in the 60-bit tail, computed
    from the hex string directly (leading '0' hex digits count 4 bits each;
    the first non-zero digit contributes 0-3 more) so no float ``log2`` can
    round differently between engines.
    """
    h = F.md5(value.cast("string"))
    idx = F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(2**b)
    )
    tail = F.substring(h, 9, _TAIL_HEX)
    stripped = F.regexp_replace(tail, "^0+", "")
    zhex = F.lit(_TAIL_HEX) - F.length(stripped)
    d = F.conv(F.substring(stripped, 1, 1), 16, 10).cast("int")
    extra = (
        F.when(d >= 8, F.lit(0))
        .when(d >= 4, F.lit(1))
        .when(d >= 2, F.lit(2))
        .otherwise(F.lit(3))
    )
    rho = F.when(stripped == "", F.lit(_RHO_EMPTY)).otherwise(
        F.lit(4) * zhex + extra + F.lit(1)
    )
    return idx.alias("reg_idx"), rho.cast("int").alias("rho")


def hll_rho(value: Column, b: int = 6) -> tuple[Column, Column]:
    """Expose the (reg_idx, rho) column pair for composition."""
    return _hll_cols(value, b)


def hll_registers(
    df: DataFrame,
    value: Column | str,
    *,
    b: int = 6,
    by: list[str] | None = None,
) -> DataFrame:
    """Sketch ``value`` into an HLL register table.

    Returns one row per (group, occupied register): ``by... , reg_idx,
    rho``.  ``max`` is idempotent, so duplicated input values are free —
    no pre-``distinct`` (and its full-width shuffle) is ever needed.

    100 TB: the only exchange is ``groupBy(by, reg_idx)`` with map-side
    partial ``max`` — at most ``2**b`` rows per group per map task.
    """
    c = F.col(value) if isinstance(value, str) else value
    keys = list(by or [])
    # widen BEFORE hashing: the md5/conv/regexp register computation is
    # CPU-bound per row, and a small parquet arrives as one split — the
    # same guard the dedup shingle stages use (_ensure_parallelism is a
    # no-op once the scan splits naturally). Projected to (keys, value)
    # first so the rescue shuffle carries narrow rows only.
    rows = _ensure_parallelism(
        df.where(c.isNotNull()).select(*keys, c.alias("__hll_v"))
    )
    idx, rho = _hll_cols(F.col("__hll_v"), b)
    return (
        rows.select(*keys, idx, rho)
        .groupBy(*keys, "reg_idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_merge(*register_dfs: DataFrame, by: list[str] | None = None) -> DataFrame:
    """Merge sketches: union the register tables, keep max rho per register.

    ``estimate(merge(sketch(A), sketch(B))) == estimate(sketch(A union B))``
    exactly — the property that makes incremental corpus monitoring free.
    """
    keys = list(by or [])
    out = register_dfs[0]
    for other in register_dfs[1:]:
        out = out.unionByName(other)
    return out.groupBy(*keys, "reg_idx").agg(F.max("rho").alias("rho"))


def _alpha(m: int) -> float:
    if m <= 16:
        return 0.673
    if m <= 32:
        return 0.697
    if m <= 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_estimate(
    registers: DataFrame, *, b: int = 6, by: list[str] | None = None
) -> DataFrame:
    """Distinct-count estimate per group from a register table.

    Standard error is about ``1.04 / sqrt(2**b)`` (13% at b=6, 3.3% at
    b=10).  Small-range correction: when the raw estimate is under 2.5*m
    and empty registers remain, fall back to linear counting
    ``m * ln(m / V_empty)``.
    """
    m = 2**b
    keys = list(by or [])
    alpha = _alpha(m)
    agg = registers.groupBy(*keys).agg(
        F.count("*").alias("__used"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("__ssum"),
    )
    v_empty = F.lit(m) - F.col("__used")
    raw = F.lit(alpha * m * m) / (F.col("__ssum") + v_empty.cast("double"))
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / v_empty.cast("double"))
    est = F.when((raw <= F.lit(2.5 * m)) & (v_empty > 0), linear).otherwise(raw)
    return agg.select(
        *keys,
        est.alias("estimate"),
        v_empty.cast("int").alias("empty_registers"),
    )


def hll_count_distinct(
    df: DataFrame,
    value: Column | str,
    *,
    b: int = 10,
    by: list[str] | None = None,
) -> DataFrame:
    """Convenience: sketch then estimate in one call."""
    return hll_estimate(
        hll_registers(df, value, b=b, by=by), b=b, by=by
    )


def _cms_idx(value: Column, d: int, width: int) -> Column:
    """Row d's bucket for ``value``: md5(d:value) first 8 hex as int mod
    width — the same engine-portable hash family as the HLL bucket."""
    h = F.md5(F.concat_ws(":", F.lit(str(d)), value.cast("string")))
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), F.lit(width)
    )


def cms_sketch(
    df: DataFrame,
    value: Column | str,
    *,
    depth: int = 4,
    width: int = 256,
    by: list[str] | None = None,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005): frequency
    estimates for EVERY value in ``depth * width`` integer cells, with
    overestimate-only error ``<= 2n/width`` at confidence
    ``1 - 2^-depth``.

    Returns one row per non-empty cell: ``by..., d, w_idx, cnt``. Cells
    merge across sketches by summing (see :func:`cms_merge`) — the
    mergeable heavy-hitter counter for incremental corpus monitoring.

    100 TB: the explode is depth x rows, but map-side partial counts
    collapse each task to at most ``depth * width`` rows per group
    before the exchange — the shuffle carries sketch cells, never
    values (same shape as :func:`hll_registers`)."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    c = F.col(value) if isinstance(value, str) else value
    keys = list(by or [])
    # widen BEFORE hashing (the hll_registers guard): depth md5s per row
    # on a single-split input would run one-wide — measured 5x at sf0.1
    base = _ensure_parallelism(
        df.where(c.isNotNull()).select(*keys, c.alias("__cms_v"))
    )
    cv = F.col("__cms_v")
    rows = base.select(
        *keys,
        F.posexplode(
            F.array(*[_cms_idx(cv, d, width) for d in range(depth)])
        ).alias("d", "w_idx"),
    )
    return rows.groupBy(*keys, "d", "w_idx").agg(
        F.count("*").alias("cnt")
    )


def cms_merge(*sketches: DataFrame, by: list[str] | None = None) -> DataFrame:
    """Merge Count-Min sketches: union cells, sum counts per cell."""
    keys = list(by or [])
    out = sketches[0]
    for other in sketches[1:]:
        out = out.unionByName(other)
    return out.groupBy(*keys, "d", "w_idx").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    item_col: str,
    *,
    depth: int = 4,
    width: int = 256,
    by: list[str] | None = None,
) -> DataFrame:
    """Estimated frequency of each item: ``min_d cnt[d, h_d(item)]``.

    ``items`` fans out to its depth probe cells, joins the sketch
    (broadcast when the sketch is one group: depth*width cells), and
    takes the per-item min; absent cells count 0. Estimates are always
    ``>= true count`` (property-tested)."""
    keys = list(by or [])
    c = F.col(item_col)
    probes = items.select(
        *keys,
        item_col,
        F.posexplode(
            F.array(*[_cms_idx(c, d, width) for d in range(depth)])
        ).alias("d", "w_idx"),
    )
    joined = probes.join(sketch, on=[*keys, "d", "w_idx"], how="left")
    return (
        joined.groupBy(*keys, item_col)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("long")
            .alias("est")
        )
    )


def histogram_sketch(
    df: DataFrame,
    value: Column | str,
    lo: float,
    hi: float,
    bins: int = 256,
    *,
    by: list[str] | None = None,
) -> DataFrame:
    """Equi-width histogram sketch: the mergeable quantile companion to
    :func:`hll_registers` / :func:`cms_sketch`. One row per non-empty
    bin: ``by..., bin, cnt`` with ``bin = clamp(floor((v - lo) / w))``
    (values outside [lo, hi) land in the edge bins, so mass is never
    lost). Merge = cell-wise sum; quantile error is bounded by one bin
    width. Same shuffle shape as the other sketches: map-side partial
    counts cap each task at ``bins`` rows per group."""
    if bins < 1:
        raise ValueError("bins must be >= 1")
    if not hi > lo:
        raise ValueError("need hi > lo")
    c = F.col(value) if isinstance(value, str) else value
    keys = list(by or [])
    width = (hi - lo) / bins
    raw = F.floor((c.cast("double") - F.lit(lo)) / F.lit(width))
    b = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("int")
    return (
        df.where(c.isNotNull())
        .select(*keys, b.alias("bin"))
        .groupBy(*keys, "bin")
        .agg(F.count("*").alias("cnt"))
    )


def histogram_merge(
    *sketches: DataFrame, by: list[str] | None = None
) -> DataFrame:
    """Merge histogram sketches: union bins, sum counts."""
    keys = list(by or [])
    out = sketches[0]
    for other in sketches[1:]:
        out = out.unionByName(other)
    return out.groupBy(*keys, "bin").agg(F.sum("cnt").alias("cnt"))


def histogram_quantiles(
    sketch: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    bins: int = 256,
    *,
    by: list[str] | None = None,
) -> DataFrame:
    """Quantile estimates from a histogram sketch, one row per group:
    the value is interpolated within the bin containing the target rank
    (error <= one bin width). Runs entirely as grouped HOF arithmetic on
    the collected-per-group bin list — the only shuffle is the
    group-sized collect_list, bounded at ``bins`` rows per group."""
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile must be in [0, 1], got {q}")
    keys = list(by or [])
    width = (hi - lo) / bins
    g = sketch.groupBy(*keys).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("bin"), F.col("cnt")))
        ).alias("__bins"),
        F.sum("cnt").alias("__n"),
    )
    cum = F.expr(
        "aggregate(__bins, CAST(array() AS array<struct<bin:int,hi_rank:bigint>>), "
        "(acc, x) -> acc || array(named_struct('bin', x.bin, 'hi_rank', "
        "coalesce(try_element_at(acc, -1).hi_rank, CAST(0 AS bigint)) + x.cnt)))"
    )
    g = g.withColumn("__cum", cum)
    cols = list(keys) + [F.col("__n").alias("n")]
    for q in qs:
        rank = F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(F.lit(float(q)) * F.col("__n")).cast("bigint"),
        )
        picked = F.filter(F.col("__cum"), lambda x: x["hi_rank"] >= rank)
        bin_idx = F.element_at(picked, 1)["bin"]
        est = F.lit(lo) + (bin_idx.cast("double") + F.lit(0.5)) * F.lit(width)
        cols.append(est.alias(f"q{int(round(q * 100)):02d}"))
    return g.select(*cols)


def hll_overlap(
    a: DataFrame, b: DataFrame, *, b_bits: int = 10
) -> dict[str, float]:
    """Sketch-based overlap estimate via inclusion-exclusion:
    ``|A ∩ B| ≈ est(A) + est(B) - est(A ∪ B)``, with ``est(A ∪ B)``
    exact-on-registers thanks to :func:`hll_merge`.

    The 100 TB decontamination triage: estimating train/eval n-gram
    overlap costs two sketch passes + register arithmetic instead of a
    full distinct join; run the exact ``decontaminate`` pass only on
    corpora this flags. Inputs are UNGROUPED register tables from
    :func:`hll_registers` (same ``b``). Intersection error compounds
    (three ±1.04/sqrt(m) estimates), so treat small overlaps as noise —
    the returned ``jaccard`` is the decision number."""
    def _est(df: DataFrame) -> float:
        # An empty register table (empty corpus side) is a legitimate
        # triage input — treat a missing estimate as 0.0 instead of
        # letting collect()[0] raise IndexError.
        rows = hll_estimate(df, b=b_bits).collect()
        if not rows or rows[0]["estimate"] is None:
            return 0.0
        return float(rows[0]["estimate"])

    ea = _est(a)
    eb = _est(b)
    eu = _est(hll_merge(a, b))
    inter = max(0.0, ea + eb - eu)
    return {
        "a": ea,
        "b": eb,
        "union": eu,
        "intersection": inter,
        "jaccard": inter / eu if eu > 0 else 0.0,
    }


def heavy_hitters(
    df: DataFrame,
    value: Column | str,
    *,
    min_count: int | None = None,
    min_fraction: float | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """EXACT heavy hitters (all values with count ``>= min_count``, or
    ``>= min_fraction`` of the group's non-null rows) via the
    fingerprint-first two-phase plan:

    1. shuffle 8-byte ``xxhash64`` fingerprints with map-side partial
       counts — the exchange never carries the values themselves (for
       long strings/URLs this is the whole cost of a naive
       ``GROUP BY value HAVING``);
    2. the surviving fingerprints (heavy ones — by definition few)
       broadcast back; only THEIR rows re-aggregate by actual value,
       and the threshold re-checks on the exact per-value count, so a
       fingerprint collision can inflate a candidate set but never the
       answer.

    Returns ``by..., value, n`` (+ ``frac`` when ``min_fraction``).
    Deterministic and exact — the DuckDB oracle is a plain
    GROUP BY/HAVING. For estimate-only monitoring over an existing
    sketch use :func:`cms_estimate`; this is the materializing pass.

    100 TB: phase-1 exchange is fingerprint+count pairs; phase-2
    touches only candidate rows (skew IS the workload here — heavy keys
    are exactly the ones with map-side combine leverage)."""
    if (min_count is None) == (min_fraction is None):
        raise ValueError("pass exactly one of min_count / min_fraction")
    if min_count is not None and min_count < 1:
        raise ValueError("min_count must be >= 1")
    if min_fraction is not None and not (0.0 < min_fraction <= 1.0):
        raise ValueError("min_fraction must be in (0, 1]")
    c = F.col(value) if isinstance(value, str) else value
    keys = list(by or [])
    rows = df.where(c.isNotNull()).select(
        *keys, c.alias("value"), F.xxhash64(c.cast("string")).alias("__fp")
    )
    fp_counts = rows.groupBy(*keys, "__fp").agg(
        F.count("*").cast("long").alias("__fn")
    )
    if min_fraction is not None:
        totals = rows.groupBy(*keys).agg(
            F.count("*").cast("long").alias("__tot")
        )
        if keys:
            fp_counts = fp_counts.join(F.broadcast(totals), on=keys)
        else:
            fp_counts = fp_counts.crossJoin(F.broadcast(totals))
        cand_pred = F.col("__fn") >= F.col("__tot") * F.lit(min_fraction)
    else:
        cand_pred = F.col("__fn") >= F.lit(min_count)
    cands = fp_counts.where(cand_pred).select(*keys, "__fp").distinct()
    verified = (
        rows.join(F.broadcast(cands), on=[*keys, "__fp"])
        .groupBy(*keys, "value")
        .agg(F.count("*").cast("long").alias("n"))
    )
    if min_fraction is not None:
        totals = rows.groupBy(*keys).agg(
            F.count("*").cast("long").alias("__tot")
        )
        if keys:
            verified = verified.join(F.broadcast(totals), on=keys)
        else:
            verified = verified.crossJoin(F.broadcast(totals))
        return verified.where(
            F.col("n") >= F.col("__tot") * F.lit(min_fraction)
        ).select(
            *keys, "value", "n",
            (F.col("n") / F.col("__tot")).alias("frac"),
        )
    return verified.where(F.col("n") >= F.lit(min_count))


def topk_frequent(
    df: DataFrame,
    value: Column | str,
    k: int,
    *,
    by: list[str] | None = None,
) -> DataFrame:
    """EXACT top-k most frequent values under the deterministic total
    order (count desc, value asc). Same fingerprint-first shuffle as
    :func:`heavy_hitters` phase 1, then only the top candidate
    fingerprints' rows re-count by value. A collision MERGES two
    values' counts into one fingerprint, so a true top-k value's fp
    ranks at least as high as the value itself would — taking ``2k``
    fingerprint candidates before exact verification keeps the result
    exact under up to k colliding fingerprints inside the head (at
    xxhash64 width, collisions are ~0 until ~2^32 distinct values).
    Returns ``by..., value, n``."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    c = F.col(value) if isinstance(value, str) else value
    keys = list(by or [])
    rows = df.where(c.isNotNull()).select(
        *keys, c.alias("value"), F.xxhash64(c.cast("string")).alias("__fp")
    )
    fp_counts = rows.groupBy(*keys, "__fp").agg(
        F.count("*").cast("long").alias("__fn")
    )
    if keys:
        w = Window.partitionBy(*keys)
        cands = (
            fp_counts.withColumn(
                "__r",
                F.row_number().over(
                    w.orderBy(F.col("__fn").desc(), F.col("__fp").asc())
                ),
            )
            .where(F.col("__r") <= 2 * k)
            .select(*keys, "__fp")
        )
    else:
        # orderBy+limit compiles to TakeOrderedAndProject: each task
        # keeps its local top-2k, the driver merges — no single-partition
        # window shuffle for the global case
        cands = (
            fp_counts.orderBy(F.col("__fn").desc(), F.col("__fp").asc())
            .limit(2 * k)
            .select("__fp")
        )
    verified = (
        rows.join(F.broadcast(cands), on=[*keys, "__fp"])
        .groupBy(*keys, "value")
        .agg(F.count("*").cast("long").alias("n"))
    )
    if keys:
        w2 = Window.partitionBy(*keys)
        return (
            verified.withColumn(
                "__r",
                F.row_number().over(
                    w2.orderBy(F.col("n").desc(), F.col("value").asc())
                ),
            )
            .where(F.col("__r") <= k)
            .drop("__r")
        )
    return verified.orderBy(F.col("n").desc(), F.col("value").asc()).limit(k)


def hll_estimate_py(rhos: list[int], b: int) -> float:
    """Driver-side reference estimator (test parity target)."""
    m = 2**b
    ssum = sum(2.0**-r for r in rhos) + (m - len(rhos))
    raw = _alpha(m) * m * m / ssum
    v = m - len(rhos)
    if raw <= 2.5 * m and v > 0:
        return m * math.log(m / v)
    return raw
