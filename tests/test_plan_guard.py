"""Source guard: only ``plans/inspect.py`` reads Spark's plan objects.

Library code, tests, tools and ``bench.py`` inspect a plan through
``plans.inspect`` (``plan_nodes``, ``find_nodes``, ``plan_summary``,
``explain_text``), which walks the plan tree and knows how Spark wraps it
(adaptive plans, query stages, reused exchanges, codegen). A direct
``queryExecution()`` read or an ``explain`` capture anywhere else fails
this test. ``NestedFrame.explain`` prints the plan for a user and captures
nothing, so its one delegating line stays allowed. ``perfbench/`` is the
benchmark's own harness and is not scanned.
"""

import re
from pathlib import Path

import nested_pandas_spark

ROOT = Path(nested_pandas_spark.__file__).parent.parent
FORBIDDEN = re.compile(r"queryExecution\(|\.explain(String)?\(|redirect_stdout")
ALLOWED = {
    ("nested_pandas_spark/plans/inspect.py", None),
    ("tests/test_plan_guard.py", None),
    ("nested_pandas_spark/nestedframe/core.py", "self._df.explain(*a, **kw)"),
}


def _sources():
    for sub in ("nested_pandas_spark", "tests", "tools"):
        yield from sorted((ROOT / sub).rglob("*.py"))
    yield ROOT / "bench.py"


def test_plan_reads_only_in_inspect_module():
    hits = []
    for path in _sources():
        rel = path.relative_to(ROOT).as_posix()
        if (rel, None) in ALLOWED:
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if FORBIDDEN.search(line) and (rel, line.strip()) not in ALLOWED:
                hits.append(f"{rel}:{n}: {line.strip()}")
    assert not hits, "\n".join(hits)
