"""crossmatch: grid-bucketed k-nearest spatial join, checked against a
brute-force Python reference."""

import math

import pytest

from nested_pandas_spark.operators.crossmatch import crossmatch
from nested_pandas_spark.plans.inspect import find_nodes


def _brute(lpts, rpts, radius, k):
    out = {}
    for lid, lx, ly in lpts:
        cands = sorted(
            (
                (math.hypot(lx - rx, ly - ry), rid)
                for rid, rx, ry in rpts
                if math.hypot(lx - rx, ly - ry) <= radius
            ),
        )
        out[lid] = [rid for _, rid in cands[:k]]
    return out


def test_crossmatch_matches_bruteforce(spark):
    import random

    rng = random.Random(3)
    lpts = [(i, rng.uniform(0, 10), rng.uniform(0, 10)) for i in range(40)]
    rpts = [(100 + i, rng.uniform(0, 10), rng.uniform(0, 10)) for i in range(60)]
    l = spark.createDataFrame(lpts, "id long, x double, y double")
    r = spark.createDataFrame(rpts, "id long, x double, y double")
    got = crossmatch(l, r, "id", "id", radius=1.5, k=2)
    by_left = {}
    for row in got.orderBy("id", "rank").collect():
        by_left.setdefault(row["id"], []).append(row["id"])
    spark_nn = {}
    for row in got.orderBy("rank").collect():
        spark_nn.setdefault(row[0], []).append(row[1])
    ref = _brute(lpts, rpts, 1.5, 2)
    for lid, rids in ref.items():
        assert spark_nn.get(lid, []) == rids


def test_crossmatch_across_cell_boundary(spark):
    # neighbors in adjacent grid cells must still match (the 3x3 stencil)
    l = spark.createDataFrame([(1, 0.999, 0.0)], "id long, x double, y double")
    r = spark.createDataFrame([(2, 1.001, 0.0)], "id long, x double, y double")
    [m] = crossmatch(l, r, "id", "id", radius=1.0).collect()
    assert m[1] == 2 and m["dist"] == pytest.approx(0.002)


def test_crossmatch_radius_boundary_inclusive(spark):
    l = spark.createDataFrame([(1, 0.0, 0.0)], "id long, x double, y double")
    r = spark.createDataFrame(
        [(2, 1.0, 0.0), (3, 1.0000001, 0.0)], "id long, x double, y double"
    )
    rows = crossmatch(l, r, "id", "id", radius=1.0, k=5).collect()
    assert [m[1] for m in rows] == [2]  # exactly-at-radius in, beyond out


def test_crossmatch_no_neighbor_emits_nothing(spark):
    l = spark.createDataFrame([(1, 0.0, 0.0)], "id long, x double, y double")
    r = spark.createDataFrame([(2, 50.0, 50.0)], "id long, x double, y double")
    assert crossmatch(l, r, "id", "id", radius=1.0).count() == 0


def test_crossmatch_validation(spark):
    l = spark.createDataFrame([(1, 0.0, 0.0)], "id long, x double, y double")
    with pytest.raises(ValueError):
        crossmatch(l, l, "id", "id", radius=0)
    with pytest.raises(ValueError):
        crossmatch(l, l, "id", "id", radius=1.0, k=0)


def test_crossmatch_plan_no_cartesian(spark):
    l = spark.createDataFrame([(1, 0.0, 0.0)], "id long, x double, y double")
    out = crossmatch(l, l, "id", "id", radius=1.0)
    assert not find_nodes(out, "CartesianProduct", "BroadcastNestedLoopJoin")
