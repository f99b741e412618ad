"""Plan inspection: the one module that knows how Spark represents a plan.

:func:`plan_nodes` walks a frame's physical plan (or its analyzed /
optimized logical plan) node by node, so callers assert on node classes
and scan metadata instead of substring-matching ``explain`` text. It
descends through the wrappers Spark puts around the real operators:
``AdaptiveSparkPlan`` (its current plan), ``*QueryStage`` (the stage's
plan), ``ReusedExchange`` (the exchange it reuses), ``InMemoryTableScan``
(the cached plan), ``WholeStageCodegen`` and ``InputAdapter``.

:func:`plan_summary` counts the scale-relevant features on that walk:
exchanges (shuffles) dominate cost; broadcast joins mean a dimension
stayed small; pushed filters / partition filters mean the scan skips
data; cartesian products and row-at-a-time Python UDFs are almost always
mistakes in a hot path.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame

__all__ = [
    "PlanNode", "explain_text", "find_nodes", "plan_nodes", "plan_summary",
    "plan_tree",
]

# scan metadata a node carries (physical file scans only)
SCAN_META = ("PushedFilters", "PartitionFilters", "ReadSchema")
# a subtree under one of these already ran (a reused stage or a cache):
# it is in the plan, but the query does not execute it again
MATERIALIZED = ("ReusedExchange", "InMemoryTableScan")


@dataclass(frozen=True)
class PlanNode:
    """One plan node. ``name`` is the node's class without the ``Exec``
    suffix (``ShuffleExchange``, ``BroadcastHashJoin``, ``FileSourceScan``,
    ``Project``, ``LogicalRelation``...); ``text`` its one-line string as
    ``toString`` prints it; ``ancestors`` the names of the enclosing nodes,
    root first; ``meta`` a scan's ``PushedFilters`` / ``PartitionFilters``
    / ``ReadSchema``."""

    name: str
    text: str
    ancestors: tuple[str, ...] = ()
    meta: dict = field(default_factory=dict)

    @property
    def materialized(self) -> bool:
        """Inside a reused exchange or a cached plan."""
        return any(a in MATERIALIZED for a in self.ancestors)


def _children(j, name: str) -> list:
    if name == "AdaptiveSparkPlan":
        return [j.executedPlan()]
    if name.endswith("QueryStage"):
        return [j.plan()]
    if name == "ReusedExchange":
        return [j.child()]
    if name == "InMemoryTableScan":
        return [j.relation().cachedPlan()]
    kids, subs = j.children(), j.subqueries()
    return ([kids.apply(i) for i in range(kids.size())]
            + [subs.apply(i) for i in range(subs.size())])


def _scan_meta(j, name: str) -> dict:
    """``SCAN_META`` of a V1 file scan, or of a V2 scan that reports it
    (parquet, orc, csv...); empty for any other node."""
    if name in ("FileSourceScan", "RowDataSourceScan"):
        m = j.metadata()
    elif name == "BatchScan":
        try:
            m = j.scan().getMetaData()
        except Py4JError:  # a V2 scan without SupportsMetadata
            return {}
    else:
        return {}
    return {k: m.get(k).get() for k in SCAN_META if m.get(k).isDefined()}


def plan_nodes(df: DataFrame, plan: str = "physical") -> Iterator[PlanNode]:
    """The nodes of ``df``'s plan, pre-order (a node before its children).

    ``plan`` picks the tree: ``"physical"`` (the executed plan; under AQE
    the current one, so it shows query stages once the frame has run),
    ``"analyzed"`` or ``"optimized"``. Subquery plans follow their node.

    >>> df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    >>> [n.name for n in plan_nodes(df.groupBy("k").count())][:3]
    ['AdaptiveSparkPlan', 'HashAggregate', 'ShuffleExchange']
    """
    qe = df._jdf.queryExecution()
    root = {
        "physical": qe.executedPlan,
        "analyzed": qe.analyzed,
        "optimized": qe.optimizedPlan,
    }[plan]()
    max_fields = df.sparkSession._jvm.org.apache.spark.sql.internal.SQLConf \
        .get().maxToStringFields()
    stack = [(root, ())]
    while stack:
        j, ancestors = stack.pop()
        name = j.getClass().getSimpleName().removesuffix("Exec")
        meta = _scan_meta(j, name)
        yield PlanNode(name, j.verboseString(max_fields), ancestors, meta)
        below = ancestors + (name,)
        stack.extend((c, below) for c in reversed(_children(j, name)))


def find_nodes(plan, *names: str, text: str = "") -> list[PlanNode]:
    """The nodes of ``plan`` (a frame, walked as its physical plan, or nodes
    from :func:`plan_nodes`) whose class name contains one of ``names``
    (any class when none is given) and whose one-line string contains
    ``text``. ``"Exchange"`` matches shuffle, broadcast and reused
    exchanges; ``"Join"`` every join.

    >>> df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    >>> [n.name for n in find_nodes(df.groupBy("k").count(), "Exchange")]
    ['ShuffleExchange']
    """
    nodes = plan_nodes(plan) if isinstance(plan, DataFrame) else plan
    return [
        n for n in nodes
        if (not names or any(m in n.name for m in names)) and text in n.text
    ]


def plan_tree(nodes) -> str:
    """The nodes' one-line strings indented by depth, the shape ``toString``
    prints: what plan-size and literal-count checks measure."""
    return "\n".join("   " * len(n.ancestors) + n.text for n in nodes)


def explain_text(df: DataFrame, mode: str = "formatted") -> str:
    """``df.explain(mode)`` as a string (for reading by eye; assert on
    :func:`plan_nodes` instead)."""
    jvm = df.sparkSession._jvm
    mode_obj = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(mode_obj)


def plan_summary(df: DataFrame) -> dict:
    """Counts of scale-relevant physical-plan nodes.

    Keys: ``exchanges`` (shuffle exchanges), ``broadcasts`` (broadcast
    exchanges), ``scans`` (leaf scans: files, RDDs, local rows, caches),
    ``pushed_filters`` / ``partition_filters`` (file scans with non-empty
    PushedFilters / PartitionFilters), ``cartesian`` (CartesianProduct /
    BroadcastNestedLoopJoin — red flag), ``python_evals`` (BatchEvalPython
    = row-at-a-time Python — red flag) and ``arrow_evals`` (Arrow-batched
    Python: ArrowEvalPython, MapInArrow, MapInPandas,
    FlatMapGroupsInPandas). A reused exchange or a cached plan is counted
    where it is read, not again inside.

    The counts are the same before and after the frame runs (AQE's query
    stages are walked through, not counted).

    Example (a packed count is one shuffle over one scan, no red flags):

    >>> df = spark.createDataFrame([(1, 2.0)], "k long, v double")
    >>> from nested_pandas_spark.operators.packer import pack
    >>> s = plan_summary(pack(df, "items", on="k"))
    >>> s["exchanges"], s["scans"], s["cartesian"], s["python_evals"]
    (1, 1, 0, 0)
    """
    nodes = [n for n in plan_nodes(df) if not n.materialized]

    def count(*names: str) -> int:
        return sum(n.name in names for n in nodes)

    def with_meta(key: str) -> int:
        return sum(n.meta.get(key, "[]") not in ("[]", "") for n in nodes)

    return {
        "exchanges": count("ShuffleExchange"),
        "broadcasts": count("BroadcastExchange"),
        "scans": sum(n.name.endswith("Scan") for n in nodes),
        "pushed_filters": with_meta("PushedFilters"),
        "partition_filters": with_meta("PartitionFilters"),
        "cartesian": count("CartesianProduct", "BroadcastNestedLoopJoin"),
        "python_evals": count("BatchEvalPython"),
        "arrow_evals": count("ArrowEvalPython", "MapInArrow", "MapInPandas",
                             "FlatMapGroupsInPandas"),
    }
