"""Source guard: every Python function the library hands to Spark first
calls ``session.drop_zip_finders``.

A PySpark worker calls ``importlib.invalidate_caches()`` before each task,
which makes every cached zip-archive finder re-read its archive; the helper
keeps that to once per worker. A ``mapInArrow(``, ``mapInPandas(``,
``applyInPandas(`` or ``applyInPandasWithState(`` call anywhere in the
library must pass, by name, a function defined in the same scope whose first
statement is ``drop_zip_finders()``. A lambda, a user callable passed
straight through, or a function that calls the helper later fails this test.
"""

import ast
from pathlib import Path

import nested_pandas_spark

PASSES = {"mapInArrow", "mapInPandas", "applyInPandas", "applyInPandasWithState"}


def _first_call_is_helper(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
        body = body[1:]  # docstring
    return (
        bool(body)
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Call)
        and isinstance(body[0].value.func, ast.Name)
        and body[0].value.func.id == "drop_zip_finders"
        and not body[0].value.args
    )


def _pass_calls(tree: ast.AST):
    """Each ``df.<pass>(fn, ...)`` call with its innermost enclosing
    function (or the module)."""
    parent = {c: p for p in ast.walk(tree) for c in ast.iter_child_nodes(p)}
    for call in ast.walk(tree):
        if isinstance(call, ast.Call) and isinstance(call.func, ast.Attribute) \
                and call.func.attr in PASSES:
            scope = parent[call]
            while not isinstance(scope, (ast.FunctionDef, ast.Module)):
                scope = parent[scope]
            yield call, scope


def _violations(tree: ast.AST, where: str) -> list[str]:
    out = []
    for call, scope in _pass_calls(tree):
        fn = call.args[0] if call.args else None
        defs = [d for d in ast.walk(scope)
                if isinstance(d, ast.FunctionDef) and d is not scope
                and isinstance(fn, ast.Name) and d.name == fn.id]
        if not defs or not all(_first_call_is_helper(d) for d in defs):
            out.append(f"{where}:{call.lineno}: {call.func.attr}(...) does not "
                       "pass a local function starting with drop_zip_finders()")
    return out


def test_every_worker_function_drops_zip_finders():
    root = Path(nested_pandas_spark.__file__).parent
    hits, calls = [], 0
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        calls += len(list(_pass_calls(tree)))
        hits += _violations(tree, str(path.relative_to(root)))
    assert calls >= 20  # the guard sees the library's passes
    assert not hits, "\n".join(hits)


def test_guard_rejects_a_pass_without_the_helper():
    bad = ast.parse(
        "def op(df):\n"
        "    def gen(batches):\n"
        "        for b in batches:\n"
        "            yield b\n"
        "    return df.mapInArrow(gen, df.schema)\n"
        "def grouped(df, func):\n"
        "    return df.groupBy('k').applyInPandas(func, schema='k long')\n"
        "def late(df):\n"
        "    def gen(batches):\n"
        "        yield from batches\n"
        "        drop_zip_finders()\n"
        "    return df.mapInPandas(gen, df.schema)\n"
    )
    assert len(_violations(bad, "bad.py")) == 3
    good = ast.parse(
        "def op(df):\n"
        "    def gen(batches):\n"
        "        '''doc'''\n"
        "        drop_zip_finders()\n"
        "        yield from batches\n"
        "    return df.mapInArrow(gen, df.schema)\n"
    )
    assert _violations(good, "good.py") == []
