"""query / eval semantics (reference test_nestedframe.py:883 test_query,
:2448 test_eval_assignment, test_accessor.py:549/:575 element-filter +
drop-empty semantics)."""

import pytest
from pyspark.sql import functions as F

from nested_pandas_spark import NestedFrame
from nested_pandas_spark.nestedframe.expr import QueryCompileError
from nested_pandas_spark.plans.inspect import find_nodes, plan_nodes


def test_base_query(packed):
    out = packed.query("a > 0.3")
    assert sorted(r["id"] for r in out.collect()) == [1, 2]


def test_nested_query_keeps_rows(packed):
    """Frame-level query keeps ALL base rows; emptied cells become NULL."""
    out = packed.query("nested.flux > 100")  # nothing matches
    rows = out.collect()
    assert len(rows) == 3
    assert all(r["nested"] is None for r in rows)


def test_nested_query_filters_elements(packed):
    out = packed.query("nested.t >= 1")
    rows = {r["id"]: r["nested"] for r in out.collect()}
    assert all(len(v) == 2 for v in rows.values())
    assert [e["t"] for e in rows[0]] == [1.0, 2.0]


def test_nested_query_mixed_subcolumns(packed):
    out = packed.query("nested.t + nested.flux > 21")
    rows = {r["id"]: r["nested"] for r in out.collect()}
    assert rows[0] is None
    assert len(rows[2]) == 2  # 21+1=22>21? t=1,flux=21 -> 22>21 yes; t=2,flux=22 -> 24


def test_nested_query_base_broadcast(packed):
    """Base columns are in scope inside the element predicate."""
    out = packed.query("nested.flux > 10 * b")
    rows = {r["id"]: r["nested"] for r in out.collect()}
    # id0: b=1.0, flux {0,1,2} -> none survive -> NULL cell
    # id1: b=0.2, flux {10,11,12} all > 2 -> 3 survive
    # id2: b=1.8, flux {20,21,22} all > 18 -> 3 survive
    assert rows[0] is None
    assert len(rows[1]) == 3 and len(rows[2]) == 3


def test_query_drop_empty(packed):
    out = packed.query_drop_empty("nested.flux > 15")
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [2]


def test_query_env_and_in(packed):
    out = packed.query("nested.band in ['r'] and nested.t >= @lo", env={"lo": 2})
    rows = {r["id"]: r["nested"] for r in out.collect()}
    assert all(v is not None and all(e["band"] == "r" for e in v) for v in rows.values())


def test_eval_new_base_column(packed):
    out = packed.eval("c = a + b")
    row = {r["id"]: r["c"] for r in out.collect()}
    assert row[0] == pytest.approx(1.1)


def test_eval_new_subcolumn(packed):
    out = packed.eval("nested.double_t = nested.t * 2")
    rows = {r["id"]: r["nested"] for r in out.collect()}
    assert [e["double_t"] for e in rows[0]] == [0.0, 2.0, 4.0]
    assert "double_t" in out.nested_fields("nested")


def test_eval_base_broadcast_into_nest(packed):
    out = packed.eval("nested.scaled = nested.flux + a")
    rows = {r["id"]: r["nested"] for r in out.collect()}
    assert rows[1][0]["scaled"] == pytest.approx(10.0 + 0.5)


def test_eval_new_nest(packed):
    out = packed.eval("mynest.c = nested.t + 1")
    assert "mynest" in out.nested_columns
    rows = {r["id"]: r["mynest"] for r in out.collect()}
    assert [e["c"] for e in rows[0]] == [1.0, 2.0, 3.0]


def test_eval_replace_existing_subcolumn(packed):
    out = packed.eval("nested.t = nested.t + 100")
    rows = {r["id"]: r["nested"] for r in out.collect()}
    assert [e["t"] for e in rows[0]] == [100.0, 101.0, 102.0]


def test_eval_rejects_deep_nesting(packed):
    with pytest.raises(QueryCompileError, match="one level"):
        packed.eval("nested.a.b = 1")


def test_eval_rejects_nested_to_base(packed):
    with pytest.raises(QueryCompileError):
        packed.eval("c = nested.t + 1")


def test_query_multi_layer_rejected(packed, sources):
    two = packed.join_nested(sources, "n2", on="id")
    with pytest.raises(QueryCompileError, match="multiple structs"):
        two.query("nested.t > n2.t")


def test_nest_len_in_query(packed):
    out = packed.query("nested.len() > 2")
    assert out.count() == 3
    out2 = packed.query("nested.t > 0").query("nested.len() >= 2")
    assert out2.count() == 3


def test_query_pushdown_through_pack(spark, objects, sources):
    """An element filter right after join_nested must reach the child scan
    (the pack is deferred so the predicate applies before the shuffle)."""
    ndf = NestedFrame(objects).join_nested(sources, "nested", on="id")
    q = ndf.query("nested.flux > 11.0")
    import re

    plan = list(plan_nodes(q.df))
    # the predicate must appear as a flat-child Filter (below the pack),
    # not as a post-pack HOF lambda
    filters = [n for n in find_nodes(plan, "Filter")
               if re.search(r"flux#\d+ > 11\.0", n.text)]
    assert filters
    assert all(any("Aggregate" in a for a in n.ancestors) for n in filters)
    assert not find_nodes(plan, text="lambdafunction")
    # and the results are identical to the post-pack filter path
    eager = NestedFrame(objects).join_nested(sources, "nested", on="id", how="inner")
    eager = NestedFrame(eager.df).query("nested.flux > 11.0")
    got = {r["id"]: (None if r["nested"] is None else len(r["nested"]))
           for r in q.collect()}
    want = {r["id"]: (None if r["nested"] is None else len(r["nested"]))
            for r in eager.collect()}
    assert got == want


def test_query_pushdown_skipped_for_base_broadcast(spark, objects, sources):
    """Predicates that reference base columns cannot push below the join."""
    ndf = NestedFrame(objects).join_nested(sources, "nested", on="id")
    q = ndf.query("nested.flux > 10 * b")  # must fall back to post-pack HOF
    rows = {r["id"]: r["nested"] for r in q.collect()}
    assert rows[0] is None and len(rows[1]) == 3


def test_query_scientific_notation(spark):
    """Reference issue #59: constants in scientific notation compile."""
    nf = NestedFrame(spark.createDataFrame([(1.0,), (1e-2,), (3.0,)], "a double"))
    got = sorted(r["a"] for r in nf.query("a > 1e-1").collect())
    assert got == [1.0, 3.0]


def test_from_flat_empty_child(spark):
    """Reference issue #348: packing an empty flat frame yields an empty
    NestedFrame (no error, stable schema)."""
    from nested_pandas_spark.operators.packer import from_flat

    empty = spark.createDataFrame([], "x double, k long")
    nf = NestedFrame(from_flat(empty, base_columns=[], on=["k"], name="new"))
    assert nf.count() == 0
    assert "new" in nf.nested_columns


def test_eval_global_reduction_scalar(packed):
    """`nested.f.max()` in eval is a GLOBAL reduction over the flat series,
    broadcast to every row (reference test_nestedframe.py:2406
    test_eval_funcs)."""
    out = packed.eval("m = nested.flux.max()")
    vals = {r["m"] for r in out.df.select("m").collect()}
    assert vals == {22.0}


def test_eval_base_plus_nested_reduction(packed):
    """`a + nested.t.median()` is a pure base-level expression (reference
    test_mixed_eval_funcs): the reduction does not trip the single-layer
    rule and the result dtype is double, not decimal."""
    out = packed.eval("s = a + nested.t.median()")
    rows = {r["id"]: r["s"] for r in out.df.select("id", "s").collect()}
    # median(t) over all elements = 1.0
    assert rows == {0: pytest.approx(1.1), 1: pytest.approx(1.5), 2: pytest.approx(1.9)}
    assert dict(out.df.dtypes)["s"] == "double"


def test_query_elements_above_global_mean(packed):
    """Element filter comparing against a global reduction of the same
    nest: the scalar binds as a literal, so the filter still pushes down."""
    out = packed.query("nested.flux > nested.flux.mean()")  # mean = 11
    rows = {r["id"]: r["nested"] for r in out.df.collect()}
    assert rows[0] is None
    assert [e["flux"] for e in rows[1]] == [12.0]
    assert len(rows[2]) == 3


def test_reduction_on_base_column(packed):
    out = packed.eval("m = b.sum()")
    vals = [r["m"] for r in out.df.select("m").collect()]
    assert vals == pytest.approx([3.0, 3.0, 3.0])


def test_reduction_unknown_field_raises(packed):
    with pytest.raises(QueryCompileError):
        packed.eval("m = nested.nope.max()")


def test_reduction_composes_with_pending_pack(spark, objects, sources):
    """A reduction query on a PENDING pack still works and the element
    predicate (now a plain literal compare) still pushes to the child."""
    from nested_pandas_spark import NestedFrame

    nf = NestedFrame(objects).join_nested(sources, "nested", on="id")
    out = nf.query("nested.flux > nested.flux.mean()")
    rows = {r["id"]: r["nested"] for r in out.df.collect()}
    assert rows[0] is None and len(rows[2]) == 3
