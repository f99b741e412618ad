"""NestedFrame.concat: pd.concat(axis=0)-style vertical stacking with
schema alignment across base columns and nested struct fields."""

import pytest
from pyspark.sql import functions as F

from nested_pandas_spark import NestedFrame
from nested_pandas_spark.plans.inspect import find_nodes


@pytest.fixture()
def ab(spark):
    a = NestedFrame(spark.sql(
        "SELECT 1L AS id, array(named_struct('q', 1.0D)) AS items, 'x' AS only_a"
    ))
    b = NestedFrame(spark.sql(
        "SELECT 2L AS id, array(named_struct('q', 2.0D, 'p', 9.0D)) AS items"
    ))
    return a, b


def test_concat_outer_pads_columns_and_fields(ab):
    a, b = ab
    out = NestedFrame.concat([a, b]).df.orderBy("id").collect()
    assert [r["id"] for r in out] == [1, 2]
    assert out[0]["only_a"] == "x" and out[1]["only_a"] is None
    # nested field alignment: frame A's elements gain a NULL 'p'
    assert out[0]["items"][0]["p"] is None
    assert out[1]["items"][0]["p"] == 9.0


def test_concat_inner_narrows_to_common(ab):
    a, b = ab
    out = NestedFrame.concat([a, b], join="inner")
    assert sorted(out.df.columns) == ["id", "items"]
    fields = [f.name for f in out.df.schema["items"].dataType.elementType.fields]
    assert fields == ["q"]
    assert out.df.count() == 2


def test_concat_inner_no_common_fields_raises(spark):
    a = NestedFrame(spark.sql("SELECT 1L AS id, array(named_struct('q', 1.0D)) AS items"))
    b = NestedFrame(spark.sql("SELECT 2L AS id, array(named_struct('p', 2.0D)) AS items"))
    with pytest.raises(ValueError, match="no fields common"):
        NestedFrame.concat([a, b], join="inner")


def test_concat_validation(spark, ab):
    a, _ = ab
    with pytest.raises(ValueError, match="at least one"):
        NestedFrame.concat([])
    with pytest.raises(ValueError, match="join must be"):
        NestedFrame.concat([a], join="left")
    one = NestedFrame.concat([a])
    assert one.df.count() == 1


def test_concat_no_shuffle(ab):
    # a union is plan concatenation: the physical plan must not shuffle
    a, b = ab
    assert not find_nodes(NestedFrame.concat([a, b]).df, "Exchange")


def test_concat_mixed_plain_dataframe(spark, ab):
    a, b = ab
    out = NestedFrame.concat([a, b.df])  # plain DataFrames accepted too
    assert out.df.count() == 2


def test_concat_three_frames_accumulates(spark):
    frames = [
        NestedFrame(spark.sql(f"SELECT {i}L AS id, {i}.0D AS v{i}"))
        for i in range(3)
    ]
    out = NestedFrame.concat(frames).df
    assert out.count() == 3
    assert sorted(out.columns) == ["id", "v0", "v1", "v2"]
