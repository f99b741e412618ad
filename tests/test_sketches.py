"""HyperLogLog sketch: engine parity, merge law, estimate accuracy."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from nested_pandas_spark.pipeline.sketches import (
    hll_count_distinct,
    hll_estimate,
    hll_estimate_py,
    hll_merge,
    hll_registers,
)
from nested_pandas_spark.plans.inspect import find_nodes, plan_nodes


@pytest.fixture(scope="module")
def values(spark):
    # 5000 rows, ~1200 distinct keys, skewed groups, with duplicates
    rows = [(i % 3, f"k{(i * 7919) % 1200}") for i in range(5000)]
    return spark.createDataFrame(rows, "grp int, v string")


def _duckdb_registers(rows, b):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (grp INT, v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    return sorted(
        con.execute(
            f"""
        WITH h AS (SELECT grp, md5(v) AS h FROM t WHERE v IS NOT NULL),
        r AS (SELECT grp,
            ('0x' || substr(h, 1, 8))::BIGINT % {2**b} AS reg_idx,
            CASE WHEN regexp_replace(substr(h, 9, 15), '^0+', '') = '' THEN 61
                 ELSE 4 * (15 - length(regexp_replace(substr(h, 9, 15), '^0+', '')))
                      + CASE WHEN ('0x' || substr(regexp_replace(substr(h, 9, 15), '^0+', ''), 1, 1))::INT >= 8 THEN 0
                             WHEN ('0x' || substr(regexp_replace(substr(h, 9, 15), '^0+', ''), 1, 1))::INT >= 4 THEN 1
                             WHEN ('0x' || substr(regexp_replace(substr(h, 9, 15), '^0+', ''), 1, 1))::INT >= 2 THEN 2
                             ELSE 3 END + 1 END AS rho
          FROM h)
        SELECT grp, reg_idx, CAST(max(rho) AS INT) AS rho
        FROM r GROUP BY grp, reg_idx
        """
        ).fetchall()
    )


def test_register_parity_vs_duckdb(spark, values):
    reg = hll_registers(values, "v", b=6, by=["grp"])
    got = sorted(tuple(r) for r in reg.collect())
    want = _duckdb_registers([tuple(r) for r in values.collect()], b=6)
    assert got == want


def test_estimate_within_hll_error(spark, values):
    # standard error 1.04/sqrt(m): b=8 -> 6.5%; allow 4 sigma
    est = {
        r["grp"]: r["estimate"]
        for r in hll_count_distinct(values, "v", b=8, by=["grp"]).collect()
    }
    truth = {
        r["grp"]: r["n"]
        for r in values.groupBy("grp")
        .agg(F.countDistinct("v").alias("n"))
        .collect()
    }
    for g, n in truth.items():
        assert abs(est[g] - n) / n < 4 * 1.04 / math.sqrt(2**8)


def test_small_range_linear_counting(spark):
    # 10 distinct values in m=64 registers -> linear-counting branch
    df = spark.createDataFrame([(f"x{i % 10}",) for i in range(100)], "v string")
    reg = hll_registers(df, "v", b=6)
    used = reg.count()
    est = hll_estimate(reg, b=6).collect()[0]
    assert est["empty_registers"] == 64 - used
    assert est["estimate"] == pytest.approx(64 * math.log(64 / (64 - used)))
    assert abs(est["estimate"] - 10) < 3


def test_merge_equals_union(spark, values):
    a = hll_registers(values.where("grp = 0"), "v", b=6)
    b = hll_registers(values.where("grp <> 0"), "v", b=6)
    merged = sorted(tuple(r) for r in hll_merge(a, b).collect())
    full = sorted(tuple(r) for r in hll_registers(values, "v", b=6).collect())
    assert merged == full


def test_python_reference_parity(spark, values):
    reg = hll_registers(values, "v", b=6)
    rhos = [r["rho"] for r in reg.collect()]
    got = hll_estimate(reg, b=6).collect()[0]["estimate"]
    assert got == pytest.approx(hll_estimate_py(rhos, b=6), rel=1e-12)


def test_nulls_ignored_and_duplicates_free(spark):
    df = spark.createDataFrame(
        [("a",), (None,), ("a",), ("b",)], "v string"
    )
    reg = hll_registers(df, "v", b=4)
    reg2 = hll_registers(
        spark.createDataFrame([("a",), ("b",)], "v string"), "v", b=4
    )
    assert sorted(map(tuple, reg.collect())) == sorted(map(tuple, reg2.collect()))


# ------------------------------------------------------------- Count-Min


def test_cms_never_underestimates_and_bounds(spark, values):
    from nested_pandas_spark.pipeline.sketches import cms_estimate, cms_sketch

    sk = cms_sketch(values, "v", depth=4, width=256)
    items = values.select("v").distinct()
    est = {r["v"]: r["est"] for r in cms_estimate(sk, items, "v", depth=4, width=256).collect()}
    true = {
        r["v"]: r["n"]
        for r in values.groupBy("v").agg(F.count("*").alias("n")).collect()
    }
    n_total = values.count()
    for v, t in true.items():
        assert est[v] >= t  # CMS never underestimates
        assert est[v] - t <= 2 * n_total / 256 * 4  # loose epsilon bound


def test_cms_merge_equals_union(spark, values):
    from nested_pandas_spark.pipeline.sketches import cms_merge, cms_sketch

    a = cms_sketch(values.where("grp = 0"), "v")
    b = cms_sketch(values.where("grp <> 0"), "v")
    merged = sorted(tuple(r) for r in cms_merge(a, b).collect())
    full = sorted(tuple(r) for r in cms_sketch(values, "v").collect())
    assert merged == full


def test_cms_duckdb_parity(spark, values):
    from nested_pandas_spark.pipeline.sketches import cms_sketch

    got = sorted(tuple(r) for r in cms_sketch(values, "v", depth=3, width=64).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t (grp INT, v VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [tuple(r) for r in values.collect()])
    want = sorted(
        con.execute(
            """
        WITH cells AS (
            SELECT d.range AS d,
                   ('0x' || substr(md5(CAST(d.range AS VARCHAR) || ':' || v), 1, 8))::BIGINT % 64 AS w_idx
            FROM t, range(0, 3) d WHERE v IS NOT NULL
        )
        SELECT CAST(d AS INT) AS d, w_idx, count(*) AS cnt
        FROM cells GROUP BY d, w_idx
        """
        ).fetchall()
    )
    assert got == want


def test_hll_streaming_equals_batch(spark, tmp_path):
    """hll_registers is streaming-ready as-is: max is a supported
    streaming aggregate, so two micro-batches in complete mode land on
    the exact batch register table."""
    import shutil
    import uuid

    from nested_pandas_spark.pipeline.sketches import hll_registers

    src = spark.createDataFrame(
        [(i % 4, f"u{i % 37}") for i in range(500)], "grp int, v string"
    )
    d = tmp_path / "stream_src"
    d.mkdir()
    src.where("grp < 2").write.parquet(str(d / "p0"))
    src.where("grp >= 2").write.parquet(str(d / "p1"))
    # flatten into one dir of files for maxFilesPerTrigger
    flat = tmp_path / "flat"
    flat.mkdir()
    n = 0
    for sub in ["p0", "p1"]:
        for f in (d / sub).glob("*.parquet"):
            shutil.copy(f, flat / f"{n:03d}.parquet")
            n += 1
    stream = (
        spark.readStream.option("maxFilesPerTrigger", str(max(1, n // 2)))
        .schema(src.schema)
        .parquet(str(flat))
    )
    reg_s = hll_registers(stream, "v", b=5, by=["grp"])
    name = "hllmem_" + uuid.uuid4().hex[:8]
    q = (
        reg_s.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table(name).collect())
    want = sorted(tuple(r) for r in hll_registers(src, "v", b=5, by=["grp"]).collect())
    assert got == want


# ------------------------------------------------------------ histogram


def test_histogram_counts_and_edges(spark):
    from nested_pandas_spark.pipeline.sketches import histogram_sketch

    df = spark.createDataFrame(
        [(float(v) if v is not None else None,)
         for v in [-5, 0, 0.5, 9.99, 10, 15, None]],
        "v double",
    )
    sk = {r["bin"]: r["cnt"] for r in histogram_sketch(df, "v", 0.0, 10.0, bins=10).collect()}
    # -5 clamps to bin 0; 0 and 0.5 in bin 0; 9.99 in bin 9; 10 and 15 clamp to bin 9
    assert sk[0] == 3 and sk[9] == 3 and sum(sk.values()) == 6


def test_histogram_merge_and_quantiles(spark):
    import numpy as np

    from nested_pandas_spark.pipeline.sketches import (
        histogram_merge,
        histogram_quantiles,
        histogram_sketch,
    )

    vals = [(i % 3, float((i * 37) % 1000)) for i in range(3000)]
    df = spark.createDataFrame(vals, "grp int, v double")
    a = histogram_sketch(df.where("grp = 0"), "v", 0.0, 1000.0, bins=100, by=["grp"])
    b = histogram_sketch(df.where("grp <> 0"), "v", 0.0, 1000.0, bins=100, by=["grp"])
    merged = sorted(tuple(r) for r in histogram_merge(a, b, by=["grp"]).collect())
    full_sk = histogram_sketch(df, "v", 0.0, 1000.0, bins=100, by=["grp"])
    assert merged == sorted(tuple(r) for r in full_sk.collect())
    est = {
        r["grp"]: (r["q50"], r["q90"], r["n"])
        for r in histogram_quantiles(
            full_sk, [0.5, 0.9], 0.0, 1000.0, bins=100, by=["grp"]
        ).collect()
    }
    arr = np.array([v for _, v in vals if _ is not None])
    for g in (0, 1, 2):
        gv = np.sort(np.array([v for k, v in vals if k == g]))
        assert est[g][2] == len(gv)
        # error bounded by one bin width (10.0)
        assert abs(est[g][0] - gv[int(np.ceil(0.5 * len(gv))) - 1]) <= 10.0
        assert abs(est[g][1] - gv[int(np.ceil(0.9 * len(gv))) - 1]) <= 10.0


def test_histogram_validation(spark):
    import pytest as _pt

    from nested_pandas_spark.pipeline.sketches import (
        histogram_quantiles,
        histogram_sketch,
    )

    df = spark.createDataFrame([(1.0,)], "v double")
    with _pt.raises(ValueError):
        histogram_sketch(df, "v", 5.0, 5.0)
    with _pt.raises(ValueError):
        histogram_sketch(df, "v", 0.0, 1.0, bins=0)
    sk = histogram_sketch(df, "v", 0.0, 1.0, bins=4)
    with _pt.raises(ValueError):
        histogram_quantiles(sk, [1.5], 0.0, 1.0, bins=4)


def test_hll_overlap_estimate(spark):
    from nested_pandas_spark.pipeline.sketches import hll_overlap, hll_registers

    # |A| = 1500, |B| = 1500, |A ∩ B| = 500 (ids 1000..1499 shared)
    a = spark.range(0, 1500).selectExpr("CAST(id AS STRING) AS v")
    b = spark.range(1000, 2500).selectExpr("CAST(id AS STRING) AS v")
    ra = hll_registers(a, "v", b=10)
    rb = hll_registers(b, "v", b=10)
    est = hll_overlap(ra, rb, b_bits=10)
    assert abs(est["a"] - 1500) / 1500 < 0.15
    assert abs(est["union"] - 2500) / 2500 < 0.15
    # intersection compounds three estimates: generous 50% band
    assert 250 < est["intersection"] < 1000
    assert 0.05 < est["jaccard"] < 0.4


def test_hll_overlap_empty_side(spark):
    from nested_pandas_spark.pipeline.sketches import hll_overlap, hll_registers

    a = spark.range(0, 100).selectExpr("CAST(id AS STRING) AS v")
    empty = spark.createDataFrame([], "v string")
    ra = hll_registers(a, "v", b=10)
    re = hll_registers(empty, "v", b=10)
    est = hll_overlap(ra, re, b_bits=10)
    assert est["b"] == 0.0
    assert est["intersection"] == 0.0 and est["jaccard"] == 0.0
    both_empty = hll_overlap(re, re, b_bits=10)
    assert both_empty["jaccard"] == 0.0


def test_cms_streaming_equals_batch(spark, tmp_path):
    """cms_sketch is streaming-ready as-is (count is a supported
    streaming aggregate)."""
    import shutil
    import uuid

    from nested_pandas_spark.pipeline.sketches import cms_sketch

    src = spark.createDataFrame(
        [(f"w{i % 53}",) for i in range(400)], "v string"
    )
    flat = tmp_path / "cms_flat"
    flat.mkdir()
    n = 0
    src.coalesce(1).write.parquet(str(tmp_path / "h0"))
    src.coalesce(1).write.parquet(str(tmp_path / "h1"))
    for sub in ("h0", "h1"):
        for f in (tmp_path / sub).glob("*.parquet"):
            shutil.copy(f, flat / f"{n:03d}.parquet")
            n += 1
    stream = (
        spark.readStream.option("maxFilesPerTrigger", "1")
        .schema(src.schema).parquet(str(flat))
    )
    name = "cmsmem_" + uuid.uuid4().hex[:8]
    q = (
        cms_sketch(stream, "v", depth=3, width=64)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table(name).collect())
    want = sorted(
        tuple(r)
        for r in cms_sketch(src.unionAll(src), "v", depth=3, width=64).collect()
    )
    assert got == want


def test_histogram_streaming_equals_batch(spark, tmp_path):
    """histogram_sketch is streaming-ready as-is (count agg)."""
    import shutil
    import uuid

    from nested_pandas_spark.pipeline.sketches import histogram_sketch

    src = spark.createDataFrame(
        [(float((i * 13) % 97),) for i in range(300)], "v double"
    )
    flat = tmp_path / "hist_flat"
    flat.mkdir()
    n = 0
    src.coalesce(1).write.parquet(str(tmp_path / "g0"))
    src.coalesce(1).write.parquet(str(tmp_path / "g1"))
    for sub in ("g0", "g1"):
        for f in (tmp_path / sub).glob("*.parquet"):
            shutil.copy(f, flat / f"{n:03d}.parquet")
            n += 1
    stream = (
        spark.readStream.option("maxFilesPerTrigger", "1")
        .schema(src.schema).parquet(str(flat))
    )
    name = "histmem_" + uuid.uuid4().hex[:8]
    q = (
        histogram_sketch(stream, "v", 0.0, 100.0, bins=20)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table(name).collect())
    want = sorted(
        tuple(r)
        for r in histogram_sketch(src.unionAll(src), "v", 0.0, 100.0, bins=20).collect()
    )
    assert got == want


# ------------------------------------------------- exact heavy hitters


def test_heavy_hitters_exact_min_count(spark):
    from collections import Counter

    from nested_pandas_spark.pipeline.sketches import heavy_hitters

    vals = [f"v{i % 7}" for i in range(200)] + ["rare1", "rare2"] + [None]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        (r["value"], r["n"])
        for r in heavy_hitters(df, "s", min_count=10).collect()
    }
    want = {
        (v, n) for v, n in Counter(v for v in vals if v).items() if n >= 10
    }
    assert got == want
    assert ("rare1", 1) not in got


def test_heavy_hitters_min_fraction_and_grouped(spark):
    from nested_pandas_spark.pipeline.sketches import heavy_hitters

    rows = [("a", "x")] * 60 + [("a", "y")] * 30 + [("a", "z")] * 10
    rows += [("b", "x")] * 5 + [("b", "q")] * 95
    df = spark.createDataFrame(rows, "g string, s string")
    got = {
        (r["g"], r["value"], r["n"], round(r["frac"], 6))
        for r in heavy_hitters(
            df, "s", min_fraction=0.25, by=["g"]
        ).collect()
    }
    assert got == {
        ("a", "x", 60, 0.6), ("a", "y", 30, 0.3), ("b", "q", 95, 0.95)
    }


def test_heavy_hitters_validates_args(spark):
    import pytest as _pt

    from nested_pandas_spark.pipeline.sketches import heavy_hitters

    df = spark.createDataFrame([("a",)], "s string")
    with _pt.raises(ValueError):
        heavy_hitters(df, "s")
    with _pt.raises(ValueError):
        heavy_hitters(df, "s", min_count=3, min_fraction=0.1)
    with _pt.raises(ValueError):
        heavy_hitters(df, "s", min_count=0)
    with _pt.raises(ValueError):
        heavy_hitters(df, "s", min_fraction=1.5)


def test_topk_frequent_exact_and_deterministic(spark):
    from collections import Counter

    from nested_pandas_spark.pipeline.sketches import topk_frequent

    vals = (["a"] * 50 + ["b"] * 50 + ["c"] * 30 + ["d"] * 30
            + ["e"] * 5 + [f"tail{i}" for i in range(40)])
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = [(r["value"], r["n"]) for r in topk_frequent(df, "s", 4).collect()]
    cnt = Counter(vals)
    want = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
    assert got == want  # ties broken by value asc: a before b, c before d


def test_topk_frequent_grouped(spark):
    from nested_pandas_spark.pipeline.sketches import topk_frequent

    rows = [("g1", "x")] * 9 + [("g1", "y")] * 5 + [("g1", "z")] * 1
    rows += [("g2", "p")] * 2 + [("g2", "q")] * 7
    df = spark.createDataFrame(rows, "g string, s string")
    got = sorted(
        (r["g"], r["value"], r["n"])
        for r in topk_frequent(df, "s", 2, by=["g"]).collect()
    )
    assert got == [("g1", "x", 9), ("g1", "y", 5),
                   ("g2", "p", 2), ("g2", "q", 7)]


def test_topk_global_plan_has_no_single_partition_window(spark):
    from nested_pandas_spark.pipeline.sketches import topk_frequent

    df = spark.createDataFrame([(f"v{i % 5}",) for i in range(50)],
                               "s string")
    plan = list(plan_nodes(topk_frequent(df, "s", 3)))
    assert find_nodes(plan, "TakeOrderedAndProject")
    assert not find_nodes(plan, "Window")
