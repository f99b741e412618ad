"""value_counts / histogram over base columns and nested sub-columns."""

import pytest
from pyspark.sql import functions as F

from nested_pandas_spark import histogram, value_counts
from nested_pandas_spark.plans.inspect import find_nodes


def test_value_counts_base_column(spark):
    df = spark.createDataFrame(
        [("a",), ("b",), ("a",), (None,), ("a",)], "x string"
    )
    rows = value_counts(df, "x").collect()
    assert [(r["value"], r["count"]) for r in rows] == [("a", 3), ("b", 1)]
    with_null = value_counts(df, "x", dropna=False).collect()
    assert (None, 1) in [(r["value"], r["count"]) for r in with_null]


def test_value_counts_nested_subcolumn(spark, packed):
    rows = value_counts(packed.df, "nested.band").collect()
    got = {r["value"]: r["count"] for r in rows}
    assert got == {"r": 6, "g": 3}  # 3 objects x [r,g,r]
    # deterministic tie order: count desc, value asc
    assert [r["value"] for r in rows] == ["r", "g"]


def test_value_counts_normalize_no_window(spark, packed):
    out = value_counts(packed.df, "nested.band", normalize=True)
    fr = {r["value"]: r["fraction"] for r in out.collect()}
    assert fr["r"] == pytest.approx(6 / 9)
    assert not find_nodes(out, "Window")  # one-row broadcast total, not a global window


def test_value_counts_missing_column_raises(spark, packed):
    with pytest.raises(KeyError):
        value_counts(packed.df, "nope")
    with pytest.raises(KeyError):
        value_counts(packed.df, "nested.nope")


def test_histogram_base_and_edges(spark):
    df = spark.createDataFrame([(float(i),) for i in range(10)], "v double")
    rows = histogram(df, "v", bins=5, lo=0.0, hi=10.0).collect()
    assert [r["bin"] for r in rows] == [0, 1, 2, 3, 4]
    assert [r["count"] for r in rows] == [2, 2, 2, 2, 2]
    assert rows[0]["lo"] == 0.0 and rows[-1]["hi"] == 10.0


def test_histogram_auto_bounds_and_zero_fill(spark):
    df = spark.createDataFrame([(0.0,), (10.0,)], "v double")
    rows = histogram(df, "v", bins=4).collect()
    assert len(rows) == 4
    assert sum(r["count"] for r in rows) == 2
    # hi value lands in the LAST bin (numpy convention)
    assert rows[-1]["count"] == 1
    assert rows[1]["count"] == 0  # empty bins zero-filled


def test_histogram_nested_subcolumn(spark, packed):
    rows = histogram(packed.df, "nested.flux", bins=3, lo=0.0, hi=30.0).collect()
    assert sum(r["count"] for r in rows) == 9


def test_histogram_degenerate_inputs(spark):
    empty = spark.createDataFrame([], "v double")
    rows = histogram(empty, "v", bins=3).collect()
    assert len(rows) == 3 and all(r["count"] == 0 for r in rows)
    const = spark.createDataFrame([(5.0,), (5.0,)], "v double")
    rows = histogram(const, "v", bins=2).collect()  # lo == hi -> widened
    assert sum(r["count"] for r in rows) == 2
    with pytest.raises(ValueError):
        histogram(const, "v", bins=0)
    # ONE explicit bound + empty/all-NULL column: the other bound comes
    # back None from the agg and must fall back, not TypeError
    rows = histogram(empty, "v", bins=2, lo=0.0).collect()
    assert len(rows) == 2 and all(r["count"] == 0 for r in rows)
    rows = histogram(empty, "v", bins=2, hi=10.0).collect()
    assert len(rows) == 2 and all(r["count"] == 0 for r in rows)
    allnull = spark.createDataFrame([(None,)], "v double")
    rows = histogram(allnull, "v", bins=2, lo=1.0).collect()
    assert len(rows) == 2 and all(r["count"] == 0 for r in rows)
