"""Sorting: base rows and elements *within* nested cells.

Reference: ``NestedFrame.sort_values`` (``core.py:1851-1975``): sorting by
``"nested.t"`` reorders elements inside each cell (explode -> stable sort ->
repack in the reference). In Spark this is a per-row ``array_sort`` with a
multi-key comparator lambda — NO explode, NO shuffle; the reference's
offset-repack trick becomes a free array rewrite. The comparator lambda is
evaluated interpreted (Spark HOFs are ``CodegenFallback``), not in
generated code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.nested import is_nested_type, quote
from .packer import sort_comparator_sql

__all__ = ["sort_values"]


def sort_values(
    df: DataFrame,
    by: str | list[str],
    ascending: bool | list[bool] = True,
    na_position: str = "last",
) -> DataFrame:
    """Sort base rows (``by="a"``) or nested cell elements (``by="nested.t"``).

    Multiple keys must target the same layer (reference single-layer rule,
    ``core.py:1925-1928``). ``ascending`` may be a scalar or per-key list.
    """
    keys = [by] if isinstance(by, str) else list(by)
    ascs = [ascending] * len(keys) if isinstance(ascending, bool) else list(ascending)
    if len(ascs) != len(keys):
        raise ValueError("ascending must match the number of sort keys")
    nested = {f.name for f in df.schema.fields if is_nested_type(f.dataType)}

    layers = set()
    parsed: list[tuple[str | None, str, bool]] = []
    for key, asc in zip(keys, ascs):
        if "." in key and key.split(".", 1)[0] in nested:
            nest, fld = key.split(".", 1)
            layers.add(nest)
            parsed.append((nest, fld, asc))
        else:
            layers.add("__base__")
            parsed.append((None, key, asc))
    if len(layers) > 1:
        raise ValueError("sort_values keys must all target the same layer")

    if "__base__" in layers:
        cols = [
            (F.col(quote(k)).asc_nulls_last() if na_position == "last" else F.col(quote(k)).asc_nulls_first())
            if asc
            else (F.col(quote(k)).desc_nulls_last() if na_position == "last" else F.col(quote(k)).desc_nulls_first())
            for (_, k, asc) in parsed
        ]
        return df.orderBy(*cols)

    nest = parsed[0][0]
    assert nest is not None
    cmp = sort_comparator_sql([(fld, asc) for (_, fld, asc) in parsed])
    return df.withColumn(nest, F.expr(f"array_sort({quote(nest)}, (__l, __r) -> {cmp})"))
