"""rebin / phase_fold: per-cell time-series operators.

Python-side reference computations (plain loops over collected rows) pin the
semantics — floor-division bins, SQL-aggregate NULL handling, exact integral
arithmetic for int64-nano timestamps, floored modulus for pre-t0 folding.
"""

import math

import pytest
from pyspark.sql import functions as F

from nested_pandas_spark import pack, phase_fold, rebin, to_flat
from nested_pandas_spark.plans.inspect import find_nodes


def _ref_bins(elems, width, origin, field):
    """Reference rebin of one cell: {bin: (n, mean, min, max)} via Python."""
    by_bin = {}
    for t, v in elems:
        if t is None:
            continue
        b = math.floor((t - origin) / width)
        by_bin.setdefault(b, []).append(v)
    out = {}
    for b, vals in by_bin.items():
        present = [v for v in vals if v is not None]
        out[b] = (
            len(vals),
            sum(present) / len(present) if present else None,
            min(present) if present else None,
            max(present) if present else None,
        )
    return out


def test_rebin_matches_python_reference(spark):
    rows = [
        (0, 0.0, 1.0), (0, 0.4, 2.0), (0, 1.1, 3.0), (0, 2.9, 10.0),
        (1, -0.5, 4.0), (1, 0.5, None), (1, None, 99.0),
    ]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id")
    out = rebin(nf, "nested", "t", width=1.0, value_fields=["flux"])
    got = {r["id"]: r["nested_binned"] for r in out.collect()}

    per_id = {}
    for i, t, v in rows:
        per_id.setdefault(i, []).append((t, v))
    for i, elems in per_id.items():
        ref = _ref_bins(elems, 1.0, 0, "flux")
        assert [b["bin"] for b in got[i]] == sorted(ref)
        for b in got[i]:
            n, mean, mn, mx = ref[b["bin"]]
            assert b["n"] == n
            for name, want in (("flux_mean", mean), ("flux_min", mn), ("flux_max", mx)):
                if want is None:
                    assert b[name] is None
                else:
                    assert b[name] == pytest.approx(want)


def test_rebin_integral_nanos_exact(spark):
    # epoch-nano magnitudes exceed double's 2^53: the exact int64 path must
    # not wobble bins the way double division would.
    base = 1_700_000_000_000_000_000
    width = 3_600 * 1_000_000_000  # 1 hour in ns
    rows = [
        (0, base + 1, 1.0),          # hour 0 of the origin
        (0, base + width - 1, 2.0),  # still hour 0
        (0, base + width, 3.0),      # hour 1 exactly
        (0, base - 1, 4.0),          # hour -1 (floor, not truncate)
    ]
    child = spark.createDataFrame(rows, "id long, t long, flux double")
    nf = pack(child, "nested", on="id")
    out = rebin(nf, "nested", "t", width=width, origin=base, value_fields=["flux"])
    [row] = out.collect()
    bins = {b["bin"]: b for b in row["nested_binned"]}
    assert sorted(bins) == [-1, 0, 1]
    assert bins[0]["n"] == 2 and bins[0]["flux_mean"] == pytest.approx(1.5)
    assert bins[1]["n"] == 1 and bins[1]["flux_max"] == 3.0
    assert bins[-1]["n"] == 1


def test_rebin_sum_stat_and_validation(spark):
    child = spark.createDataFrame(
        [(0, 0.0, 1.0), (0, 0.5, 2.0)], "id long, t double, flux double"
    )
    nf = pack(child, "nested", on="id")
    out = rebin(nf, "nested", "t", width=1.0, stats=("sum",))
    [row] = out.collect()
    assert row["nested_binned"][0]["flux_sum"] == pytest.approx(3.0)
    with pytest.raises(ValueError, match="Unsupported stats"):
        rebin(nf, "nested", "t", width=1.0, stats=("median",))
    with pytest.raises(KeyError):
        rebin(nf, "nested", "nope", width=1.0)


def test_rebin_phase_fold_reject_fractional_params_on_int_axis(spark):
    """Fractional width/origin/period/t0 on an int64 time axis must raise:
    int() truncation would bin width=1.9 as 1 and width=0.5 would collapse
    to 0 (ANSI divide-by-zero at runtime)."""
    from nested_pandas_spark import phase_fold

    child = spark.createDataFrame([(0, 10, 1.0)], "id long, t long, flux double")
    nf = pack(child, "nested", on="id")
    with pytest.raises(ValueError, match="width must be a positive integer"):
        rebin(nf, "nested", "t", width=0.5)
    with pytest.raises(ValueError, match="width must be a positive integer"):
        rebin(nf, "nested", "t", width=1.9)
    with pytest.raises(ValueError, match="origin must be an integer"):
        rebin(nf, "nested", "t", width=2, origin=0.25)
    with pytest.raises(ValueError, match="period must be a positive integer"):
        phase_fold(nf, "nested", "t", period=2.5)
    with pytest.raises(ValueError, match="period must be a positive integer"):
        phase_fold(nf, "nested", "t", period=0)
    with pytest.raises(ValueError, match="t0 must be an integer"):
        phase_fold(nf, "nested", "t", period=2, t0=0.5)
    # integer-valued floats are fine (2.0 == 2)
    [row] = rebin(nf, "nested", "t", width=2.0).collect()
    assert row["nested_binned"][0]["bin"] == 5


def test_rebin_null_cell_passthrough(spark, packed):
    # a base row whose nested cell is NULL yields a NULL binned cell
    from nested_pandas_spark import NestedFrame

    objects = spark.createDataFrame([(0, 1.0), (9, 2.0)], "id long, a double")
    child = spark.createDataFrame([(0, 0.1, 5.0)], "id long, t double, flux double")
    nf = NestedFrame(objects).join_nested(child, "nested", on="id")
    out = {r["id"]: r["nested_binned"] for r in
           nf.rebin("nested", "t", width=1.0).df.collect()}
    assert out[9] is None
    assert out[0][0]["flux_mean"] == pytest.approx(5.0)


def test_phase_fold_matches_python_reference(spark):
    rows = [(0, 0.25, 1.0), (0, 3.75, 2.0), (0, -0.25, 3.0), (0, None, 4.0)]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    out = phase_fold(nf, "nested", "t", period=1.0, t0=0.0)
    [row] = out.collect()
    got = {e["t"]: e["phase"] for e in row["nested"]}
    assert got[0.25] == pytest.approx(0.25)
    assert got[3.75] == pytest.approx(0.75)
    assert got[-0.25] == pytest.approx(0.75)  # floored modulus, not truncated
    assert got[None] is None


def test_phase_fold_integral_exact(spark):
    base = 1_700_000_000_000_000_000
    period = 86_400 * 1_000_000_000  # 1 day in ns
    rows = [(0, base + period // 4, 1.0), (0, base - period // 4, 2.0)]
    child = spark.createDataFrame(rows, "id long, t long, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    out = phase_fold(nf, "nested", "t", period=period, t0=base)
    [row] = out.collect()
    phases = sorted(e["phase"] for e in row["nested"])
    assert phases == [pytest.approx(0.25), pytest.approx(0.75)]


def test_rebin_timestamp_field_uses_micros(spark):
    # TIMESTAMP time fields reduce to exact epoch micros; width is then in us
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (0, base, 1.0),
        (0, base + dt.timedelta(hours=23), 2.0),
        (0, base + dt.timedelta(days=1), 3.0),
    ]
    child = spark.createDataFrame(rows, "id long, t timestamp, flux double")
    nf = pack(child, "nested", on="id")
    out = rebin(nf, "nested", "t", width=86_400 * 1_000_000, value_fields=["flux"])
    [row] = out.collect()
    days = {b["bin"]: b["n"] for b in row["nested_binned"]}
    assert list(days.values()) == [2, 1]

    folded = phase_fold(nf, "nested", "t", period=86_400 * 1_000_000)
    [frow] = folded.collect()
    phases = sorted(e["phase"] for e in frow["nested"])
    assert phases == [pytest.approx(0.0), pytest.approx(0.0), pytest.approx(23 / 24)]


def test_phase_fold_rejects_existing_field(spark, packed):
    folded = packed.phase_fold("nested", "t", period=2.0)
    with pytest.raises(ValueError, match="already has field"):
        folded.phase_fold("nested", "t", period=2.0)


def test_fold_then_rebin_composes(spark):
    # the canonical light-curve flow: fold on a period, then bin by phase
    rows = [(0, float(i) * 0.3, float(i % 3)) for i in range(20)]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id")
    folded = phase_fold(nf, "nested", "t", period=0.9)
    # bin the *phase* into 3 equal bins
    out = rebin(folded, "nested", "phase", width=1.0 / 3, value_fields=["flux"])
    [row] = out.collect()
    assert sum(b["n"] for b in row["nested_binned"]) == 20
    flat = to_flat(folded, "nested")
    assert flat.where((F.col("phase") < 0) | (F.col("phase") >= 1)).count() == 0


def test_nest_diff_matches_python(spark):
    rows = [(0, 1.0, 10.0), (0, 3.0, 12.0), (0, 7.0, None), (0, 9.0, 20.0)]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    from nested_pandas_spark import nest_diff

    out = nest_diff(nf, "nested", "t")
    [row] = out.collect()
    assert [e["t_diff"] for e in row["nested"]] == [None, 2.0, 4.0, 2.0]
    # NULL operand -> NULL diff on both sides of the gap
    out2 = nest_diff(nf, "nested", "flux")
    [row2] = out2.collect()
    assert [e["flux_diff"] for e in row2["nested"]] == [None, 2.0, None, None]
    with pytest.raises(ValueError, match="already has field"):
        nest_diff(out, "nested", "t")


def test_nest_rolling_mean_min_periods(spark):
    rows = [(0, float(i), float(i)) for i in range(5)]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    from nested_pandas_spark import nest_rolling

    out = nest_rolling(nf, "nested", "flux", window=3)
    [row] = out.collect()
    got = [e["flux_roll_mean"] for e in row["nested"]]
    # pandas rolling(3, min_periods=1).mean() over [0,1,2,3,4]
    assert got == [pytest.approx(v) for v in [0.0, 0.5, 1.0, 2.0, 3.0]]


def test_nest_rolling_stats_and_nulls(spark):
    rows = [(0, 0.0, 1.0), (0, 1.0, None), (0, 2.0, 5.0)]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    from nested_pandas_spark import nest_rolling

    [rmax] = nest_rolling(nf, "nested", "flux", 2, stat="max").collect()
    assert [e["flux_roll_max"] for e in rmax["nested"]] == [1.0, 1.0, 5.0]
    [rsum] = nest_rolling(nf, "nested", "flux", 2, stat="sum").collect()
    assert [e["flux_roll_sum"] for e in rsum["nested"]] == [1.0, 1.0, 5.0]
    with pytest.raises(ValueError):
        nest_rolling(nf, "nested", "flux", 0)
    with pytest.raises(ValueError):
        nest_rolling(nf, "nested", "flux", 2, stat="median")


def test_diff_and_rolling_zero_shuffle(spark):
    # own pack (not the shared fixture): another test caching the fixture
    # would swap its Exchanges for InMemoryRelation and skew the counts
    from nested_pandas_spark import nest_diff, nest_rolling

    child = spark.createDataFrame(
        [(0, 1.0, 2.0), (0, 2.0, 3.0)], "id long, t double, flux double")
    before = pack(child, "nested", on="id")
    after = nest_rolling(nest_diff(before, "nested", "t"), "nested", "flux", 2)
    def exchanges(df):
        return sorted(n.name for n in find_nodes(df, "Exchange"))

    assert exchanges(after) == exchanges(before)  # no new shuffles


def test_sigma_clip_matches_python(spark):
    import statistics

    vals = [1.0, 1.1, 0.9, 1.05, 100.0]  # one gross outlier
    rows = [(0, float(i), v) for i, v in enumerate(vals)]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    from nested_pandas_spark import sigma_clip

    [row] = sigma_clip(nf, "nested", "flux", sigma=1.5).collect()
    kept = [e["flux"] for e in row["nested"]]
    mean, std = statistics.mean(vals), statistics.stdev(vals)
    want = [v for v in vals if abs(v - mean) <= 1.5 * std]
    assert kept == want and 100.0 not in kept


def test_sigma_clip_null_and_degenerate(spark):
    from nested_pandas_spark import sigma_clip

    # NULL values kept; <2 usable values -> untouched; constant -> untouched
    rows = [(0, 0.0, None), (0, 1.0, 5.0),
            (1, 0.0, 7.0), (1, 1.0, 7.0), (1, 2.0, 7.0)]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    got = {r["id"]: [e["flux"] for e in r["nested"]]
           for r in sigma_clip(nf, "nested", "flux").collect()}
    assert got[0] == [None, 5.0]
    assert got[1] == [7.0, 7.0, 7.0]
    with pytest.raises(ValueError):
        sigma_clip(nf, "nested", "flux", sigma=0)


def test_trend_slope_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(2)
    t = np.arange(20, dtype=float)
    y = 3.5 * t + 2.0 + rng.randn(20) * 0.1
    rows = [(0, float(a), float(b)) for a, b in zip(t, y)]
    rows += [(1, 0.0, 1.0)]          # single point -> NULL slope
    rows += [(2, 5.0, 1.0), (2, 5.0, 9.0)]  # constant time -> NULL slope
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    from nested_pandas_spark import trend_slope

    got = {r["id"]: r["nested_slope"]
           for r in trend_slope(nf, "nested", "t", "flux").collect()}
    want = np.polyfit(t, y, 1)[0]
    assert got[0] == pytest.approx(want, rel=1e-9)
    assert got[1] is None and got[2] is None


def test_trend_slope_epoch_nanos_time_scale(spark):
    # epoch-nano x axis: time_scale converts to days; slope = per-day units
    base = 1_700_000_000_000_000_000
    day = 86_400 * 10**9
    rows = [(0, base + i * day, 2.0 * i) for i in range(5)]
    child = spark.createDataFrame(rows, "id long, t long, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    from nested_pandas_spark import trend_slope

    [row] = trend_slope(nf, "nested", "t", "flux", time_scale=day).collect()
    assert row["nested_slope"] == pytest.approx(2.0, rel=1e-9)


def test_diff_and_slope_on_timestamp_layout(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [(0, base + dt.timedelta(days=i), 2.0 * i) for i in range(4)]
    child = spark.createDataFrame(rows, "id long, t timestamp, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    from nested_pandas_spark import nest_diff, trend_slope

    [row] = nest_diff(nf, "nested", "t", out_field="gap_us").collect()
    gaps = [e["gap_us"] for e in row["nested"]]
    assert gaps == [None] + [86_400 * 1_000_000] * 3  # exact micros

    [srow] = trend_slope(nf, "nested", "t", "flux",
                         time_scale=86_400 * 1_000_000).collect()
    assert srow["nested_slope"] == pytest.approx(2.0, rel=1e-9)


def test_nest_zscore_matches_python(spark):
    import statistics

    vals = [2.0, 4.0, 6.0, None]
    rows = [(0, float(i), v) for i, v in enumerate(vals)]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    from nested_pandas_spark import nest_zscore

    [row] = nest_zscore(nf, "nested", "flux").collect()
    m = statistics.mean([2.0, 4.0, 6.0])
    s = statistics.stdev([2.0, 4.0, 6.0])
    got = [e["flux_z"] for e in row["nested"]]
    assert got[:3] == [pytest.approx((v - m) / s) for v in [2.0, 4.0, 6.0]]
    assert got[3] is None
    # degenerate cells: constant or singleton -> all-NULL z
    child2 = spark.createDataFrame(
        [(1, 0.0, 7.0), (1, 1.0, 7.0), (2, 0.0, 3.0)],
        "id long, t double, flux double")
    out2 = {r["id"]: [e["flux_z"] for e in r["nested"]]
            for r in nest_zscore(pack(child2, "nested", on="id"),
                                 "nested", "flux").collect()}
    assert out2[1] == [None, None] and out2[2] == [None]


def test_nest_topk_largest_smallest(spark):
    rows = [(0, float(i), v) for i, v in
            enumerate([5.0, 1.0, None, 9.0, 3.0])]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    from nested_pandas_spark import nest_topk

    [row] = nest_topk(nf, "nested", "flux", k=2).collect()
    assert [e["flux"] for e in row["nested"]] == [9.0, 5.0]
    [row2] = nest_topk(nf, "nested", "flux", k=2, ascending=True).collect()
    assert [e["flux"] for e in row2["nested"]] == [1.0, 3.0]
    [row3] = nest_topk(nf, "nested", "flux", k=100).collect()
    assert len(row3["nested"]) == 5  # k beyond size keeps everything
    with pytest.raises(ValueError):
        nest_topk(nf, "nested", "flux", k=-1)


def test_nest_wmean_matches_python(spark):
    rows = [
        (0, 10.0, 1.0),   # weight 1
        (0, 20.0, 2.0),   # weight 0.25
        (0, 99.0, None),  # ignored: no error
        (0, None, 1.0),   # ignored: no value
        (0, 50.0, 0.0),   # ignored: non-positive error
    ]
    child = spark.createDataFrame(rows, "id long, flux double, flux_error double")
    nf = pack(child, "nested", on="id")
    from nested_pandas_spark import nest_wmean

    [row] = nest_wmean(nf, "nested", "flux", "flux_error").collect()
    want = (10.0 / 1 + 20.0 / 4) / (1 / 1 + 1 / 4)
    assert row["nested_wmean"] == pytest.approx(want)
    # cell with no usable pairs -> NULL
    child2 = spark.createDataFrame([(1, 5.0, None)],
                                   "id long, flux double, flux_error double")
    [r2] = nest_wmean(pack(child2, "nested", on="id"),
                      "nested", "flux", "flux_error").collect()
    assert r2["nested_wmean"] is None


def test_nestedframe_method_delegates(spark, packed):
    # every time-series/distribution operator is reachable by chaining
    out = (
        packed.sigma_clip("nested", "flux", sigma=3.0)
        .nest_diff("nested", "t")
        .nest_rolling("nested", "flux", 2)
        .nest_zscore("nested", "flux")
        .nest_topk("nested", "flux", 2)
        .trend_slope("nested", "t", "flux")
        .nest_wmean("nested", "flux", "flux_error")
        .nest_interp("nested", "t", "flux", grid=[0.5, 1.5])
    )
    row = out.df.where("id = 0").collect()[0]
    assert row["nested_slope"] is not None
    assert row["nested_wmean"] is not None
    assert len(row["nested_interp"]) == 2
    vc = packed.value_counts("nested.band")
    assert {r["value"] for r in vc.collect()} == {"r", "g"}
    assert packed.histogram("nested.flux", bins=2, lo=0.0, hi=30.0).count() == 2


def test_nest_corr_matches_numpy(spark):
    import numpy as np

    rng = np.random.RandomState(4)
    a = rng.randn(15)
    b = 0.7 * a + rng.randn(15) * 0.5
    rows = [(0, float(x), float(y)) for x, y in zip(a, b)]
    rows += [(1, 1.0, 2.0)]                 # single pair -> NULL
    rows += [(2, 5.0, 1.0), (2, 5.0, 9.0)]  # constant a -> NULL
    child = spark.createDataFrame(rows, "id long, fa double, fb double")
    nf = pack(child, "nested", on="id")
    from nested_pandas_spark import nest_corr

    got = {r["id"]: r["nested_corr"]
           for r in nest_corr(nf, "nested", "fa", "fb").collect()}
    assert got[0] == pytest.approx(float(np.corrcoef(a, b)[0, 1]), rel=1e-9)
    assert got[1] is None and got[2] is None


def test_nest_describe_matches_python(spark):
    import statistics

    vals = [3.0, 1.0, 4.0, None, 1.5]
    rows = [(0, float(i), v) for i, v in enumerate(vals)]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id")
    from nested_pandas_spark import nest_describe

    [r] = nest_describe(nf, "nested", "flux").collect()
    present = [v for v in vals if v is not None]
    assert r["nested_flux_n"] == 4
    assert r["nested_flux_mean"] == pytest.approx(statistics.mean(present))
    assert r["nested_flux_std"] == pytest.approx(statistics.stdev(present))
    assert r["nested_flux_min"] == 1.0 and r["nested_flux_max"] == 4.0
    # empty-usable cell: n=0, NULL stats
    child2 = spark.createDataFrame([(1, 0.0, None)],
                                   "id long, t double, flux double")
    [r2] = nest_describe(pack(child2, "nested", on="id"),
                         "nested", "flux").collect()
    assert r2["nested_flux_n"] == 0 and r2["nested_flux_mean"] is None


def test_nest_ewm_matches_pandas(spark):
    import pandas as pd

    vals = [1.0, 5.0, None, 2.0, 8.0]
    rows = [(0, float(i), v) for i, v in enumerate(vals)]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    from nested_pandas_spark import nest_ewm

    [row] = nest_ewm(nf, "nested", "flux", alpha=0.3).collect()
    got = [e["flux_ewm"] for e in row["nested"]]
    want = pd.Series(vals).ewm(alpha=0.3, adjust=False,
                               ignore_na=True).mean().tolist()
    for g, w, v in zip(got, want, vals):
        if v is None:
            assert g is None  # NULL elements carry no ewm
        else:
            assert g == pytest.approx(w, rel=1e-9)
    with pytest.raises(ValueError):
        nest_ewm(nf, "nested", "flux", alpha=0.0)
    with pytest.raises(ValueError):
        nest_ewm(nf, "nested", "flux", alpha=1.5)


def test_nest_ewm_alpha_one_is_identity(spark):
    child = spark.createDataFrame(
        [(0, 0.0, 3.0), (0, 1.0, 7.0)], "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    from nested_pandas_spark import nest_ewm

    [row] = nest_ewm(nf, "nested", "flux", alpha=1.0).collect()
    assert [e["flux_ewm"] for e in row["nested"]] == [3.0, 7.0]


def test_nest_cum_matches_pandas(spark):
    import pandas as pd

    vals = [3.0, 1.0, None, 4.0, 1.5]
    rows = [(0, float(i), v) for i, v in enumerate(vals)]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    from nested_pandas_spark import nest_cum

    ser = pd.Series(vals)
    for stat, ref in (("sum", ser.cumsum()), ("min", ser.cummin()),
                      ("max", ser.cummax())):
        [row] = nest_cum(nf, "nested", "flux", stat=stat).collect()
        got = [e[f"flux_cum{stat}"] for e in row["nested"]]
        for g, w, v in zip(got, ref.tolist(), vals):
            if v is None:
                assert g is None
            else:
                assert g == pytest.approx(w)
    with pytest.raises(ValueError):
        nest_cum(nf, "nested", "flux", stat="mean")


def test_nest_dedup_keep_first(spark):
    rows = [(0, 1.0, 5.0), (0, 1.0, 9.0), (0, 2.0, 5.0), (0, None, 1.0),
            (0, None, 2.0)]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["flux"])
    from nested_pandas_spark import nest_dedup

    # dedupe by t: first occurrence of each t survives, NULLs dedupe too
    [row] = nest_dedup(nf, "nested", by="t").collect()
    kept = [(e["t"], e["flux"]) for e in row["nested"]]
    assert kept == [(None, 1.0), (1.0, 5.0), (2.0, 5.0)]
    # whole-element dedup: all rows distinct -> unchanged
    [row2] = nest_dedup(nf, "nested").collect()
    assert len(row2["nested"]) == 5
    with pytest.raises(KeyError):
        nest_dedup(nf, "nested", by="nope")


def test_nest_decimate(spark):
    rows = [(0, float(i), float(i)) for i in range(7)]
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    from nested_pandas_spark import nest_decimate

    [row] = nest_decimate(nf, "nested", k=3).collect()
    assert [e["t"] for e in row["nested"]] == [0.0, 3.0, 6.0]
    [row2] = nest_decimate(nf, "nested", k=3, offset=1).collect()
    assert [e["t"] for e in row2["nested"]] == [1.0, 4.0]
    [row3] = nest_decimate(nf, "nested", k=1).collect()
    assert len(row3["nested"]) == 7
    with pytest.raises(ValueError):
        nest_decimate(nf, "nested", k=0)
    with pytest.raises(ValueError):
        nest_decimate(nf, "nested", k=2, offset=2)


def test_nest_sample_deterministic_and_consistent(spark):
    import hashlib

    rows = [(0, float(i), float(i)) for i in range(50)]
    rows += [(1, float(i), float(i)) for i in range(25)]  # overlapping keys
    child = spark.createDataFrame(rows, "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])
    from nested_pandas_spark import nest_sample

    out = {r["id"]: [e["t"] for e in r["nested"]]
           for r in nest_sample(nf, "nested", 0.4, "t").collect()}

    def kept(k):
        h = int(hashlib.md5(f"{k}:".encode()).hexdigest()[:8], 16)
        return h < int(0.4 * 4294967296)

    # matches the reference hash exactly, and the SAME keys survive in
    # both cells (cross-cell consistency)
    assert out[0] == [float(i) for i in range(50) if kept(float(i))]
    assert out[1] == [t for t in out[0] if t < 25]
    # reruns identical; different salt gives a different draw
    again = {r["id"]: [e["t"] for e in r["nested"]]
             for r in nest_sample(nf, "nested", 0.4, "t").collect()}
    assert again == out
    other = nest_sample(nf, "nested", 0.4, "t", salt="v2").collect()
    assert {r["id"]: [e["t"] for e in r["nested"]] for r in other} != out
    # bounds
    assert all(len(r["nested"]) == 0 for r in
               nest_sample(nf, "nested", 0.0, "t").collect())
    assert all(len(r["nested"]) in (50, 25) for r in
               nest_sample(nf, "nested", 1.0, "t").collect())
    with pytest.raises(ValueError):
        nest_sample(nf, "nested", 1.5, "t")


def _canon(x):
    """Collected values for an exact comparison: NaN as one token and the
    sign of a zero kept (plain ``==`` fails NaN == NaN and passes
    -0.0 == 0.0)."""
    if isinstance(x, float):
        return "NaN" if math.isnan(x) else (x, math.copysign(1.0, x))
    if isinstance(x, (list, tuple)):
        return [_canon(y) for y in x]
    return x


def _sql_lt(a, b):
    """SQL ordering of doubles: NaN sorts above every number."""
    return a < b or (math.isnan(b) and not math.isnan(a))


_STEPS = {
    "sum": lambda s, x: s + x,
    "min": lambda s, x: x if _sql_lt(x, s) else s,  # first of equals stays
    "max": lambda s, x: x if _sql_lt(s, x) else s,
}


def _fold(vals, step, seed=None):
    """Left fold from ``seed``, or from the first value."""
    s = seed
    for x in vals:
        s = x if s is None else step(s, x)
    return s


def _running_ref(cell, step):
    """Running fold over a cell's non-NULL flux values (NULL -> None)."""
    s, out = None, []
    for e in cell:
        if e[1] is not None:
            s = e[1] if s is None else step(s, e[1])
        out.append(None if e[1] is None else s)
    return out


def _rolling_ref(cell, window, stat):
    out = []
    for i in range(len(cell)):
        vals = [e[1] for e in cell[max(0, i - window + 1): i + 1]
                if e[1] is not None]
        if not vals:
            out.append(None)
        elif stat in ("mean", "sum"):
            total = _fold(vals, _STEPS["sum"], 0.0)
            out.append(total / len(vals) if stat == "mean" else total)
        else:
            out.append(_fold(vals, _STEPS[stat]))
    return out


def _rebin_ref(cell, width):
    """(bin, n, mean, min, max, sum) per occupied bin, bins ascending."""
    bins = {}
    for e in cell:
        if e[0] is not None:
            bins.setdefault(math.floor(e[0] / width), []).append(e[1])
    out = []
    for b in sorted(bins):
        vals = [v for v in bins[b] if v is not None]
        total = _fold(vals, _STEPS["sum"], 0.0)
        out.append((b, len(bins[b])) + ((
            total / len(vals), _fold(vals, _STEPS["min"]),
            _fold(vals, _STEPS["max"]), total) if vals else (None,) * 4))
    return out


def _dedup_ref(cell, idx):
    """First element per key; keys compare NULL = NULL, NaN = NaN and
    -0.0 = 0.0 (SQL ``IS NOT DISTINCT FROM``)."""
    def norm(x):
        return "NaN" if isinstance(x, float) and math.isnan(x) else x

    seen, out = set(), []
    for e in cell:
        k = tuple(norm(e[i]) for i in idx)
        if k not in seen:
            seen.add(k)
            out.append(e)
    return out


def _series_frame(spark, cells):
    return spark.createDataFrame(
        sorted(cells.items()),
        "id long, nested array<struct<t: double, flux: double, k: double>>")


def _check_replay(ops, src):
    """Every ``ops`` entry (name -> (frame, per-cell replay)) equals its
    replay over the collected input cells ``src``."""
    for name, (out, ref) in ops.items():
        col = "nested_binned" if name.startswith("rebin") else "nested"
        got = {r["id"]: None if r[col] is None else _canon(
            [tuple(e) for e in r[col]]) for r in out.collect()}
        want = {i: None if c is None else _canon(ref(c))
                for i, c in src.items()}
        assert got == want, name


def _sequential_ops(df):
    """rolling / cum / ewm / rebin / dedup over ``df``, each with its
    per-cell replay (nest_align has its own reference, :func:`_align_ref`)."""
    from nested_pandas_spark import nest_cum, nest_dedup, nest_ewm, nest_rolling

    def appended(vals_of):
        return lambda c: [e + (v,) for e, v in zip(c, vals_of(c))]

    ops = {}
    for window, stat in ((3, "mean"), (2, "sum"), (4, "min"), (1, "max"),
                         (30, "max")):
        ops[f"rolling {window} {stat}"] = (
            nest_rolling(df, "nested", "flux", window, stat=stat),
            appended(lambda c, w=window, s=stat: _rolling_ref(c, w, s)))
    for stat in ("sum", "min", "max"):
        ops[f"cum {stat}"] = (
            nest_cum(df, "nested", "flux", stat=stat),
            appended(lambda c, s=stat: _running_ref(c, _STEPS[s])))
    ops["ewm"] = (nest_ewm(df, "nested", "flux", alpha=0.3), appended(
        lambda c: _running_ref(c, lambda s, x: 0.3 * x + (1 - 0.3) * s)))
    for width in (4.0, 64.0):  # 64: bins long enough for a pairwise sum
        ops[f"rebin {width}"] = (
            rebin(df, "nested", "t", width=width, value_fields=["flux"],
                  stats=("mean", "min", "max", "sum")),
            lambda c, w=width: _rebin_ref(c, w))
    for by, idx in (("k", [2]), (["k", "flux"], [2, 1]), (None, [0, 1, 2])):
        ops[f"dedup {by}"] = (nest_dedup(df, "nested", by=by),
                              lambda c, i=idx: _dedup_ref(c, i))
    return ops


def test_sequential_ops_match_replay(spark):
    """rolling / cum / ewm / rebin / dedup equal a plain-Python replay of
    their definitions exactly (``==`` on NaN-tokenized, zero-signed
    values): NULL elements, NaN values (folded like SQL), and duplicate
    keys including NULL, NaN, -0.0 and 0.0. NULL, empty and all-NULL-time
    cells are :func:`test_sequential_ops_empty_and_allnull_time_cells`."""
    import random

    rng = random.Random(11)
    nan = float("nan")
    cells = {
        uid: [(float(i),
               None if rng.random() < 0.2 else round(rng.uniform(-50, 50), 3),
               None if rng.random() < 0.1 else float(rng.randrange(4)))
              for i in range(rng.randrange(1, 25))]
        for uid in range(6)
    }
    cells[9] = [(0.0, -0.0, -0.0), (1.0, 0.0, 0.0), (2.0, nan, nan),
                (3.0, 5.0, nan), (4.0, None, None), (5.0, -0.0, None),
                (None, 7.0, 0.0), (6.0, 1.0, 1.0)]
    cells[10] = [(0.0, nan, 1.0), (1.0, 2.0, 2.0), (2.0, -1.0, 3.0)]
    df = _series_frame(spark, cells)
    src = {r["id"]: None if r["nested"] is None
           else [tuple(e) for e in r["nested"]] for r in df.collect()}
    _check_replay(_sequential_ops(df), src)


def test_sequential_ops_empty_and_allnull_time_cells(spark):
    """A NULL cell stays NULL and an empty cell stays empty under every
    sequential operator; rebin turns an all-NULL-time cell into an empty
    binned array (not NULL) while the others keep its elements. Checked on
    a frame packed by join_nested (an object without rows gets a NULL cell)
    and against the replay."""
    from nested_pandas_spark import NestedFrame

    child = spark.createDataFrame(
        [(0, 1.0, 2.0), (1, None, 5.0)], "id long, t double, flux double")
    objects = spark.createDataFrame([(0,), (1,), (2,)], "id long")
    nf = NestedFrame(objects).join_nested(child, "nested", on="id").df
    out = {r["id"]: r["nested_binned"] for r in
           rebin(nf, "nested", "t", width=1.0,
                 value_fields=["flux"]).collect()}
    assert out[2] is None      # NULL cell
    assert out[1] == []        # all-NULL-time cell
    assert len(out[0]) == 1

    cells = {
        0: [(0.0, 1.0, 1.0), (1.0, None, 2.0), (2.5, 3.0, 1.0)],
        1: None,                                   # NULL cell
        2: [],                                     # empty cell
        3: [(None, 1.0, 1.0), (None, 2.0, None)],  # all-NULL-time cell
        4: [(None, None, None)],
    }
    df = _series_frame(spark, cells)
    src = {r["id"]: None if r["nested"] is None
           else [tuple(e) for e in r["nested"]] for r in df.collect()}
    _check_replay(_sequential_ops(df), src)


def test_sequential_ops_linear_on_a_mega_cell(spark):
    """One 20,000-element cell (beside a small one) through all six
    operators: each finishes in seconds, where a per-cell O(n^2) fold
    takes minutes, and still equals the replay."""
    import time

    from nested_pandas_spark import nest_align

    n = 20_000
    big = [(float(i), None if i % 7 == 0 else ((i * 37) % 101) / 7.0 - 5.0,
            float(i % 100)) for i in range(n)]
    df = _series_frame(spark, {0: big, 1: big[:5]})
    src = {r["id"]: [tuple(e) for e in r["nested"]] for r in df.collect()}
    for name, (out, ref) in _sequential_ops(df).items():
        t0 = time.perf_counter()
        _check_replay({name: (out, ref)}, src)
        assert time.perf_counter() - t0 < 60, name
    both = df.withColumn("other", F.expr(
        "transform(nested, e -> struct(e.t - 0.5 AS t, e.flux AS flux))"))
    t0 = time.perf_counter()
    got = {r["id"]: [(e["flux_near"], e["flux_near_dt"]) for e in r["nested"]]
           for r in nest_align(both, "nested", "other", "t", "flux",
                               tolerance=3.0).collect()}
    assert time.perf_counter() - t0 < 60
    right = [(t - 0.5, v) for t, v, _ in big]  # equidistant: earlier wins
    for i in range(0, n, 997):  # a sample: the reference is O(n) per element
        assert got[0][i] == _align_ref([big[i][:2]], right, tol=3.0)[0], i


def test_sequential_ops_pass_other_columns_through(spark):
    """The columns an operator does not touch come back exactly as they
    went in: a nullable long above 2**53 (a double round trip would round
    it) next to a NULL, and a struct column."""
    from nested_pandas_spark import nest_align

    big = 2 ** 53 + 1
    elem = "array<struct<t: double, flux: double, k: double>>"
    df = spark.createDataFrame(
        [(0, big, (1, "x"), [(0.0, 1.0, 1.0), (1.0, 2.0, 1.0)]),
         (1, None, None, [(0.0, 3.0, 2.0)]),
         (2, -big, (2, None), None)],
        f"id long, big long, st struct<a: int, b: string>, nested {elem}")
    df = df.withColumn("other", F.col("nested"))
    want = [(0, big, (1, "x")), (1, None, None), (2, -big, (2, None))]
    outs = [out for out, _ in _sequential_ops(df).values()]
    outs.append(nest_align(df, "nested", "other", "t", "flux"))
    for out in outs:
        assert out.schema["big"] == df.schema["big"]
        assert out.schema["st"] == df.schema["st"]
        got = sorted((r["id"], r["big"], None if r["st"] is None
                      else tuple(r["st"])) for r in out.collect())
        assert got == want


def test_sigma_clip_iterated_matches_python(spark):
    """iters=N recomputes mean/std over the survivors each round (astropy
    maxiters semantics); replay in Python pins it."""
    import statistics

    from nested_pandas_spark import sigma_clip

    vals = [10.0, 10.5, 9.5, 10.2, 9.8, 10.1, 25.0, 16.0, 9.9, 10.3]
    child = spark.createDataFrame(
        [(0, float(i), v) for i, v in enumerate(vals)],
        "id long, t double, flux double")
    nf = pack(child, "nested", on="id", sort_within=["t"])

    def clip_once(xs, sigma):
        present = [v for v in xs if v is not None]
        if len(present) < 2:
            return xs
        m = sum(present) / len(present)
        s = statistics.stdev(present)
        if not s > 0:
            return xs
        return [v for v in xs if v is None or abs(v - m) <= sigma * s]

    expect = list(vals)
    got_by_iter = {}
    for it in (1, 2, 3):
        expect = clip_once(expect, 2.0)
        [row] = sigma_clip(nf, "nested", "flux", sigma=2.0, iters=it).collect()
        got_by_iter[it] = [e["flux"] for e in row["nested"]]
        assert got_by_iter[it] == pytest.approx(expect), f"iters={it}"
    # the fixture must actually exercise convergence over iterations
    assert len(got_by_iter[2]) < len(got_by_iter[1])
    with pytest.raises(ValueError, match="iters"):
        sigma_clip(nf, "nested", "flux", iters=0)


def _ls_power_ref(ts, ys, f):
    """Reference standard-normalized Lomb-Scargle power of one cell."""
    t0 = min(ts)
    xs = [t - t0 for t in ts]
    m = sum(ys) / len(ys)
    yc = [y - m for y in ys]
    chi2 = sum(y * y for y in yc)
    w = 2 * math.pi * f
    s2 = sum(math.sin(2 * w * x) for x in xs)
    c2 = sum(math.cos(2 * w * x) for x in xs)
    tau = math.atan2(s2, c2) / (2 * w)
    c = [math.cos(w * (x - tau)) for x in xs]
    s = [math.sin(w * (x - tau)) for x in xs]
    yc_s = sum(y * ci for y, ci in zip(yc, c))
    ys_s = sum(y * si for y, si in zip(yc, s))
    cc = sum(ci * ci for ci in c)
    ss = sum(si * si for si in s)
    praw = 0.5 * ((yc_s ** 2 / cc if cc > 0 else 0.0)
                  + (ys_s ** 2 / ss if ss > 0 else 0.0))
    return 2.0 * praw / chi2


def test_periodogram_matches_python_reference(spark):
    from nested_pandas_spark import periodogram

    # strong period at f = 0.25 (period 4) plus an aperiodic cell
    rows = []
    for i in range(40):
        t = i * 0.7 + (0.13 if i % 3 else -0.2)
        rows.append((0, t, math.sin(2 * math.pi * 0.25 * t) * 3 + 0.01 * i))
    rows += [(1, 1.0, 5.0), (1, 2.0, 5.5), (1, 7.0, 4.5)]
    df = spark.createDataFrame(rows, "oid long, t double, v double")
    nf = pack(df, "lc", on="oid", sort_within=["t"])
    freqs = [0.1, 0.25, 0.4]
    out = periodogram(nf, "lc", "t", "v", freqs, best=True)
    got = {r["oid"]: r for r in out.collect()}
    by_oid = {0: ([], []), 1: ([], [])}
    for oid, t, v in rows:
        by_oid[oid][0].append(t)
        by_oid[oid][1].append(v)
    for oid, (ts, ys) in by_oid.items():
        for e in got[oid]["lc_pgram"]:
            ref = _ls_power_ref(ts, ys, e["freq"])
            assert e["power"] == pytest.approx(ref, rel=1e-9, abs=1e-12)
    # the periodic cell peaks at the true frequency
    assert got[0]["lc_pgram_freq"] == 0.25
    assert got[0]["lc_pgram_power"] > 0.8


def test_periodogram_exact_int64_axis_and_nulls(spark):
    from nested_pandas_spark import periodogram

    day = 86_400 * 10 ** 9
    base = 1_700_000_000_000_000_000  # epoch nanos ~2^60.6
    rows = [(0, base + i * day // 2, float((-1) ** i)) for i in range(20)]
    rows += [(1, base, 1.0)]          # n=1 -> NULL power
    rows += [(2, base, 2.0), (2, base + day, 2.0)]  # zero variance -> NULL
    df = spark.createDataFrame(rows, "oid long, t long, v double")
    nf = pack(df, "lc", on="oid", sort_within=["t"])
    out = periodogram(nf, "lc", "t", "v", [1.0], time_scale=day)
    got = {r["oid"]: [e["power"] for e in r["lc_pgram"]] for r in out.collect()}
    # alternating signal sampled twice per day peaks exactly at 1 cycle/day
    ts = [(r[1] - base) / day for r in rows if r[0] == 0]
    ys = [r[2] for r in rows if r[0] == 0]
    assert got[0][0] == pytest.approx(_ls_power_ref(ts, ys, 1.0), rel=1e-9)
    assert got[0][0] > 0.99
    assert got[1] == [None] and got[2] == [None]


def test_periodogram_validation(spark):
    from nested_pandas_spark import periodogram

    df = spark.createDataFrame([(0, 1.0, 1.0)], "oid long, t double, v double")
    nf = pack(df, "lc", on="oid")
    with pytest.raises(ValueError, match="non-empty"):
        periodogram(nf, "lc", "t", "v", [])
    with pytest.raises(ValueError, match="finite and > 0"):
        periodogram(nf, "lc", "t", "v", [0.0])
    with pytest.raises(ValueError, match="time_scale"):
        periodogram(nf, "lc", "t", "v", [1.0], time_scale=0)
    with pytest.raises(ValueError, match="normalization"):
        periodogram(nf, "lc", "t", "v", [1.0], normalization="psd")
    with pytest.raises(KeyError):
        periodogram(nf, "lc", "nope", "v", [1.0])


def _stetson_ref(pts, errs=None):
    """Reference Stetson (J, K) of one cell; pts sorted by (t, v)."""
    pts = sorted(pts)
    vs = [v for _, v in pts]
    n = len(vs)
    m = sum(vs) / n
    if errs is None:
        s = math.sqrt(sum((v - m) ** 2 for v in vs) / (n - 1))
        sigmas = [s] * n
    else:
        sigmas = [errs[t] for t, _ in pts]
    d = [math.sqrt(n / (n - 1)) * (v - m) / sg for v, sg in zip(vs, sigmas)]
    P = [a * b for a, b in zip(d[:-1], d[1:])]
    J = sum(math.copysign(math.sqrt(abs(p)), p) if p != 0 else 0.0
            for p in P) / (n - 1)
    K = (sum(abs(x) for x in d) / n) / math.sqrt(sum(x * x for x in d) / n)
    return J, K


def test_stetson_jk_matches_python_reference(spark):
    from nested_pandas_spark import stetson_jk

    rows = [(0, float(t), float(v)) for t, v in
            [(1, 10.0), (2, 12.0), (3, 11.5), (4, 9.0), (5, 13.0), (6, 8.5)]]
    rows += [(1, 1.0, 4.0), (1, 2.0, 4.0)]  # zero spread -> NULL on std path
    rows += [(2, 1.0, 7.0)]                 # n=1 -> NULL
    df = spark.createDataFrame(rows, "oid long, t double, v double")
    nf = pack(df, "lc", on="oid", sort_within=["t"])
    out = stetson_jk(nf, "lc", "t", "v")
    got = {r["oid"]: (r["lc_stetson_j"], r["lc_stetson_k"]) for r in out.collect()}
    J, K = _stetson_ref([(t, v) for o, t, v in rows if o == 0])
    assert got[0][0] == pytest.approx(J, rel=1e-9)
    assert got[0][1] == pytest.approx(K, rel=1e-9)
    assert got[1] == (None, None) and got[2] == (None, None)


def test_stetson_jk_err_field_path(spark):
    from nested_pandas_spark import stetson_jk

    rows = [(0, 1.0, 10.0, 0.5), (0, 2.0, 12.0, 0.4), (0, 3.0, 9.5, 0.8),
            (0, 4.0, 11.0, None),   # NULL err dropped
            (0, 5.0, 10.5, -1.0)]   # non-positive err dropped
    df = spark.createDataFrame(rows, "oid long, t double, v double, e double")
    nf = pack(df, "lc", on="oid", sort_within=["t"])
    out = stetson_jk(nf, "lc", "t", "v", err_field="e")
    [r] = out.collect()
    errs = {1.0: 0.5, 2.0: 0.4, 3.0: 0.8}
    J, K = _stetson_ref([(1.0, 10.0), (2.0, 12.0), (3.0, 9.5)], errs)
    assert r["lc_stetson_j"] == pytest.approx(J, rel=1e-9)
    assert r["lc_stetson_k"] == pytest.approx(K, rel=1e-9)


def _acf_ref(pts, lags):
    """Reference ACF of one cell; pts sorted by (t, v)."""
    vs = [v for _, v in sorted(pts)]
    n = len(vs)
    m = sum(vs) / n
    d = [v - m for v in vs]
    chi = sum(x * x for x in d)
    out = {}
    for k in lags:
        if n < k + 1 or chi <= 0:
            out[k] = None
        else:
            out[k] = sum(d[i] * d[i + k] for i in range(n - k)) / chi
    return out


def test_nest_acf_matches_python_reference(spark):
    from nested_pandas_spark import nest_acf

    pts0 = [(float(i), math.sin(i * 0.8) + 0.1 * i) for i in range(25)]
    rows = [(0, t, v) for t, v in pts0]
    rows += [(1, 1.0, 3.0), (1, 2.0, 4.0)]    # n=2: lag 1 ok, lag 2+ NULL
    rows += [(2, 1.0, 9.0), (2, 2.0, 9.0)]    # zero variance -> NULL
    df = spark.createDataFrame(rows, "oid long, t double, v double")
    nf = pack(df, "lc", on="oid", sort_within=["t"])
    out = nest_acf(nf, "lc", "t", "v", [1, 2, 5])
    got = {r["oid"]: {e["lag"]: e["acf"] for e in r["lc_acf"]}
           for r in out.collect()}
    ref0 = _acf_ref(pts0, [1, 2, 5])
    for k in (1, 2, 5):
        assert got[0][k] == pytest.approx(ref0[k], rel=1e-9)
    ref1 = _acf_ref([(1.0, 3.0), (2.0, 4.0)], [1, 2, 5])
    assert got[1][1] == pytest.approx(ref1[1], rel=1e-9)
    assert got[1][2] is None and got[1][5] is None
    assert got[2] == {1: None, 2: None, 5: None}


def test_nest_acf_validation(spark):
    from nested_pandas_spark import nest_acf

    df = spark.createDataFrame([(0, 1.0, 1.0)], "oid long, t double, v double")
    nf = pack(df, "lc", on="oid")
    with pytest.raises(ValueError):
        nest_acf(nf, "lc", "t", "v", [])
    with pytest.raises(ValueError):
        nest_acf(nf, "lc", "t", "v", [0])
    with pytest.raises(KeyError):
        nest_acf(nf, "lc", "t", "nope", [1])


def test_freq_grid(spark):
    from nested_pandas_spark import freq_grid, periodogram

    g = freq_grid(baseline=100.0, n_points=40, oversample=5.0)
    assert g[0] == pytest.approx(1.0 / 500.0)
    assert g[-1] <= 40 / (2 * 100.0) + 1e-12
    assert len(g) == 100
    with pytest.raises(ValueError):
        freq_grid(0, 10)
    with pytest.raises(ValueError):
        freq_grid(10.0, 1)
    # the grid feeds straight into periodogram
    df = spark.createDataFrame(
        [(0, float(i), math.sin(2 * math.pi * 0.05 * i)) for i in range(50)],
        "oid long, t double, v double")
    nf = pack(df, "lc", on="oid", sort_within=["t"])
    small = freq_grid(49.0, 50)[:30]
    [r] = periodogram(nf, "lc", "t", "v", small, best=True).collect()
    assert r["lc_pgram_freq"] == pytest.approx(0.05, abs=0.01)


def _sf_ref(pts, width, origin=0):
    """Reference structure function: {bin: (n, mean_sq_diff)}."""
    pts = sorted(pts)
    out = {}
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            lag = pts[j][0] - pts[i][0]
            b = math.floor((lag - origin) / width)
            d2 = (pts[j][1] - pts[i][1]) ** 2
            out.setdefault(b, []).append(d2)
    return {b: (len(v), sum(v) / len(v)) for b, v in out.items()}


def test_structure_function_matches_python_reference(spark):
    from nested_pandas_spark import structure_function

    pts0 = [(float(i) + 0.1 * (i % 3), math.sin(i * 0.5) * 2 + 0.2 * i)
            for i in range(15)]
    rows = [(0, t, v) for t, v in pts0]
    rows += [(1, 1.0, 5.0)]   # n=1 -> empty
    df = spark.createDataFrame(rows, "oid long, t double, v double")
    nf = pack(df, "lc", on="oid", sort_within=["t"])
    out = structure_function(nf, "lc", "t", "v", width=3.0)
    got = {r["oid"]: {e["bin"]: (e["n"], e["sf"]) for e in r["lc_sf"]}
           for r in out.collect()}
    ref = _sf_ref(pts0, 3.0)
    assert set(got[0]) == set(ref)
    for b, (n, sf) in ref.items():
        assert got[0][b][0] == n
        assert got[0][b][1] == pytest.approx(sf, rel=1e-9)
    assert got[1] == {}


def test_structure_function_exact_int64_axis(spark):
    from nested_pandas_spark import structure_function

    day = 86_400 * 10 ** 9
    base = 1_700_000_000_000_000_000
    rows = [(0, base + i * day + (i % 2), float(i * i)) for i in range(8)]
    df = spark.createDataFrame(rows, "oid long, t long, v double")
    nf = pack(df, "lc", on="oid", sort_within=["t"])
    out = structure_function(nf, "lc", "t", "v", width=day)
    [r] = out.collect()
    got = {e["bin"]: (e["n"], e["sf"]) for e in r["lc_sf"]}
    ref = _sf_ref([(t, v) for _, t, v in rows], day)
    assert got.keys() == ref.keys()
    for b in ref:
        assert got[b][0] == ref[b][0]
        assert got[b][1] == pytest.approx(ref[b][1], rel=1e-12)
    # fractional width on an integral axis must raise (exactness contract)
    with pytest.raises(ValueError):
        structure_function(nf, "lc", "t", "v", width=0.5)


def test_theil_sen_matches_python_reference(spark):
    from nested_pandas_spark import theil_sen

    # linear trend with two gross outliers: TS must recover slope ~2, OLS not
    pts = [(float(i), 2.0 * i + 1.0) for i in range(12)]
    pts[3] = (3.0, 500.0)
    pts[8] = (8.0, -400.0)
    rows = [(0, t, v) for t, v in pts]
    rows += [(1, 1.0, 5.0)]                 # n=1 -> NULL
    rows += [(2, 4.0, 1.0), (2, 4.0, 9.0)]  # equal times -> NULL
    df = spark.createDataFrame(rows, "oid long, t double, v double")
    nf = pack(df, "lc", on="oid", sort_within=["t"])
    out = theil_sen(nf, "lc", "t", "v")
    got = {r["oid"]: r["lc_ts_slope"] for r in out.collect()}

    slopes = sorted(
        (b[1] - a[1]) / (b[0] - a[0])
        for i, a in enumerate(pts) for b in pts[i + 1:] if b[0] != a[0])
    p = len(slopes)
    ref = (slopes[p // 2] if p % 2 == 1
           else (slopes[p // 2 - 1] + slopes[p // 2]) / 2)
    assert got[0] == pytest.approx(ref, rel=1e-9)
    assert abs(got[0] - 2.0) < 0.2   # robust to the outliers
    assert got[1] is None and got[2] is None
    with pytest.raises(ValueError):
        theil_sen(nf, "lc", "t", "v", time_scale=0)


def _lcf_ref(pts, time_scale=1.0):
    """Reference lightcurve features of one cell."""
    pts = sorted((t / time_scale, v) for t, v in pts)
    vs = sorted(v for _, v in pts)
    n = len(vs)
    out = {"n": n, "amp": None, "mad": None, "beyond1": None, "eta": None,
           "skew": None, "kurt": None, "maxslope": None}
    if n == 0:
        return out

    def med(a):
        m = len(a)
        return a[m // 2] if m % 2 else (a[m // 2 - 1] + a[m // 2]) / 2

    out["amp"] = (max(vs) - min(vs)) / 2
    out["mad"] = med(sorted(abs(v - med(vs)) for v in vs))
    if n >= 2:
        mean = sum(vs) / n
        sd = math.sqrt(sum((v - mean) ** 2 for v in vs) / (n - 1))
        dvs = [(b[1] - a[1], b[0] - a[0]) for a, b in zip(pts[:-1], pts[1:])]
        slopes = [abs(dv / dx) for dv, dx in dvs if dx != 0]
        out["maxslope"] = max(slopes) if slopes else None
        if sd > 0:
            out["beyond1"] = sum(1 for v in vs if abs(v - mean) > sd) / n
            out["eta"] = (sum(dv * dv for dv, _ in dvs) / (n - 1)) / sd ** 2
            m2 = sum((v - mean) ** 2 for v in vs) / n
            m3 = sum((v - mean) ** 3 for v in vs) / n
            m4 = sum((v - mean) ** 4 for v in vs) / n
            out["skew"] = m3 / m2 ** 1.5
            out["kurt"] = m4 / m2 ** 2 - 3
    return out


def test_lightcurve_features_match_python_reference(spark):
    from nested_pandas_spark import lightcurve_features

    pts0 = [(float(i) * 2 + (i % 2) * 0.3, math.sin(i) * 3 + 0.1 * i)
            for i in range(17)]
    rows = [(0, t, v) for t, v in pts0]
    rows += [(1, 1.0, 4.0)]                 # n=1
    rows += [(2, 1.0, 7.0), (2, 2.0, 7.0)]  # zero spread
    df = spark.createDataFrame(rows, "oid long, t double, v double")
    nf = pack(df, "lc", on="oid", sort_within=["t"])
    out = lightcurve_features(nf, "lc", "t", "v")
    got = {r["oid"]: r.asDict() for r in out.collect()}
    for oid, pts in [(0, pts0), (1, [(1.0, 4.0)]),
                     (2, [(1.0, 7.0), (2.0, 7.0)])]:
        ref = _lcf_ref(pts)
        for k, v in ref.items():
            g = got[oid][f"lc_feat_{k}"]
            if v is None:
                assert g is None, (oid, k, g)
            else:
                assert g == pytest.approx(v, rel=1e-9), (oid, k)
    with pytest.raises(ValueError):
        lightcurve_features(nf, "lc", "t", "v", time_scale=0)


def _align_ref(left, right, tol=None):
    """Reference nearest-time alignment: [(v_near, dt)] per left elem."""
    out = []
    cands = [(t, v) for t, v in right if t is not None]
    for t, _v in left:
        if t is None or not cands:
            out.append((None, None))
            continue
        best = min(cands, key=lambda c: (abs(c[0] - t), c[0]))
        d = abs(best[0] - t)
        if tol is not None and d > tol:
            out.append((None, None))
        else:
            out.append((best[1], best[0] - t))
    return out


def test_nest_align_matches_python_reference(spark):
    from nested_pandas_spark import nest_align

    g = [(1.0, 10.0), (5.0, 11.0), (9.0, None), (None, 99.0)]
    r = [(1.4, 20.0), (5.6, None), (8.0, 21.0)]
    rows = ([(0, "g", t, v) for t, v in g] + [(0, "r", t, v) for t, v in r]
            + [(1, "g", 2.0, 7.0)])  # row with EMPTY right cell
    df = spark.createDataFrame(rows, "oid long, band string, t double, v double")
    from nested_pandas_spark import pack
    gdf = pack(df.where("band = 'g'").drop("band"), "lc_g", on="oid",
               sort_within=["t"])
    rdf = pack(df.where("band = 'r'").drop("band"), "lc_r", on="oid",
               sort_within=["t"])
    both = gdf.join(rdf.select("oid", "lc_r"), "oid", "left")
    both = both.withColumn("lc_r", F.coalesce(
        "lc_r", F.expr("CAST(array() AS array<struct<t: double, v: double>>)")))
    out = nest_align(both, "lc_g", "lc_r", "t", "v")
    got = {row["oid"]: [(e["v_near"], e["v_near_dt"]) for e in row["lc_g"]]
           for row in out.collect()}
    assert got[0] == [(x, pytest.approx(d) if d is not None else None)
                      for x, d in _align_ref(g, r)]
    assert got[1] == [(None, None)]
    # tolerance cuts the distant matches
    out2 = nest_align(both, "lc_g", "lc_r", "t", "v", tolerance=0.5)
    got2 = {row["oid"]: [(e["v_near"], e["v_near_dt"]) for e in row["lc_g"]]
            for row in out2.collect()}
    assert got2[0] == [(x, pytest.approx(d) if d is not None else None)
                       for x, d in _align_ref(g, r, tol=0.5)]


def test_nest_align_exact_int64_and_validation(spark):
    from nested_pandas_spark import nest_align, pack

    day = 86_400 * 10 ** 9
    base = 1_700_000_000_000_000_000
    lrows = [(0, base + i * day, float(i)) for i in range(4)]
    rrows = [(0, base + i * day + 7, 100.0 + i) for i in range(4)]
    ldf = spark.createDataFrame(lrows, "oid long, t long, v double")
    rdf = spark.createDataFrame(rrows, "oid long, t long, v double")
    both = pack(ldf, "a", on="oid").join(
        pack(rdf, "b", on="oid").select("oid", "b"), "oid")
    out = nest_align(both, "a", "b", "t", "v")
    [row] = out.collect()
    # every left point matches the right point 7 ns later — EXACTLY
    assert [(e["v_near"], e["v_near_dt"]) for e in row["a"]] == [
        (100.0, 7), (101.0, 7), (102.0, 7), (103.0, 7)]
    with pytest.raises(ValueError):
        nest_align(both, "a", "b", "t", "v", tolerance=0.5)  # frac on int64
    with pytest.raises(KeyError):
        nest_align(both, "a", "b", "nope", "v")


def test_nest_align_matches_replay_edge_cases(spark):
    """nest_align equals the plain-Python nearest-match reference exactly
    — NULL times/values both sides, empty and NULL right cells, empty and
    NULL left cells, duplicate right times (first in array order wins),
    equidistant ties (earlier right wins), with and without tolerance —
    and keeps every left field."""
    elem = "array<struct<t: double, v: double>>"
    rows = [
        # (oid, left elements, right elements)
        (0, [(1.0, 10.0), (5.0, 11.0), (9.0, None), (None, 99.0)],
            [(1.4, 20.0), (5.6, None), (8.0, 21.0)]),
        (1, [(2.0, 7.0)], []),                      # empty right cell
        (2, [(3.0, 1.0)], None),                    # NULL right cell
        (3, [], [(1.0, 5.0)]),                      # empty left cell
        (4, None, [(1.0, 5.0)]),                    # NULL left cell
        # duplicate right times with DIFFERENT values: array order decides
        (5, [(4.0, 1.0)], [(4.0, 111.0), (4.0, 222.0), (4.0, 333.0)]),
        # equidistant candidates: earlier right time wins
        (6, [(5.0, 1.0)], [(3.0, -1.0), (7.0, -2.0)]),
        (7, [(0.5, 1.0), (99.0, 2.0)], [(None, 5.0)]),  # all right times NULL
    ]
    df = spark.createDataFrame(rows, f"oid long, a {elem}, b {elem}")
    from nested_pandas_spark import nest_align

    for tol in (None, 2.0):
        out = nest_align(df, "a", "b", "t", "v", tolerance=tol)
        assert out.schema.simpleString() == (
            f"struct<oid:bigint,a:array<struct<t:double,v:double,"
            f"v_near:double,v_near_dt:double>>,b:{elem.replace(' ', '')}>")
        got = {r["oid"]: None if r["a"] is None else [tuple(e) for e in r["a"]]
               for r in out.collect()}
        want = {oid: None if left is None else [
            e + m for e, m in zip(left, _align_ref(left, right or [], tol))]
            for oid, left, right in rows}
        assert got == want, f"tolerance={tol}"


def test_nest_align_q128_fixture_matches_replay(spark):
    """The gate-query fixture (sf0.001 events, int64-nano axis, 6h
    tolerance) equals the Python reference, int for int."""
    import os

    from nested_pandas_spark import nest_align, pack

    sf = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf}/events.parquet")
    if dict(ev.dtypes).get("ts", "") != "bigint":
        ev = ev.withColumn(
            "ts", F.unix_micros(F.col("ts").cast("timestamp")) * 1000)
    clicks = pack(
        ev.where(F.col("event_type") == "click")
          .select("user_id", "event_id", "ts", "value"),
        "a", on="user_id", sort_within=["ts", "event_id"])
    errs = pack(
        ev.where(F.col("event_type") == "error")
          .select("user_id", "ts", "value"),
        "b", on="user_id", sort_within=["ts", "value"])
    both = clicks.join(errs.select("user_id", "b"), "user_id", "inner")
    tol = 21_600 * 10**9
    got = {r["user_id"]: [(e["value_near"], e["value_near_dt"]) for e in r["a"]]
           for r in nest_align(both, "a", "b", "ts", "value",
                               tolerance=tol).collect()}
    want = {r["user_id"]: _align_ref([(e["ts"], e["value"]) for e in r["a"]],
                                     [(e["ts"], e["value"]) for e in r["b"]],
                                     tol)
            for r in both.collect()}
    assert got == want and any(v for m in want.values() for v, _ in m)
