"""map_rows: apply a Python function per top-level row.

Reference: ``NestedFrame.map_rows`` (``core.py:2207-2545``): base columns
arrive as scalars, nested sub-columns as 1-D numpy arrays per row; outputs
become new columns; dotted output names re-pack into new nested columns
(``infer_nesting``).

Spark-first: this is the ONE place Python runs per row, so it uses
``mapInArrow`` (Arrow-batched — each nested sub-column cell arrives as a
numpy array, the exact shape the reference's ``iter_field_lists`` produces,
``ext_array.py:1029-1046``). The JVM->Python hop happens once per batch,
not per row; batches flow partition-parallel across executors, so throughput
scales with cores, not driver speed.

Schema handling: Spark needs the output schema up front. Either pass
``output_schema`` (a DDL string or StructType), or we infer it by running
``func`` on the first row driver-side (cheap: ``limit(1)`` collect).
"""

from __future__ import annotations

import inspect
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.nested import is_nested_type, quote
from ..session import default_parallelism, drop_zip_finders

__all__ = ["map_rows", "map_batches", "map_groups"]


def _classify(df: DataFrame, columns: list[str]) -> list[tuple[str, str | None, str]]:
    """[(select_alias, nest_or_None, field_or_base_name)] for each requested col."""
    nested = {f.name for f in df.schema.fields if is_nested_type(f.dataType)}
    out = []
    for c in columns:
        if "." in c and c.split(".", 1)[0] in nested:
            nest, fld = c.split(".", 1)
            out.append((c.replace(".", "__"), nest, fld))
        else:
            out.append((c, None, c))
    return out


def _projection(df: DataFrame, spec: list[tuple[str, str | None, str]]) -> DataFrame:
    cols = []
    for alias, nest, name in spec:
        if nest is None:
            cols.append(F.col(quote(name)).alias(alias))
        else:
            cols.append(
                F.expr(f"transform({quote(nest)}, __x -> __x.{quote(name)})").alias(alias)
            )
    return df.select(*cols)


def _infer_spark_type(value: Any) -> T.DataType:
    if isinstance(value, (np.floating, float)):
        return T.DoubleType()
    if isinstance(value, (bool, np.bool_)):
        return T.BooleanType()
    if isinstance(value, (np.integer, int)):
        return T.LongType()
    if isinstance(value, str):
        return T.StringType()
    if isinstance(value, (list, tuple, np.ndarray)):
        inner = value[0] if len(value) else 0.0
        return T.ArrayType(_infer_spark_type(inner))
    raise TypeError(f"Cannot infer Spark type for map_rows output {value!r}")


def _row_values(pdf: pd.DataFrame, spec: list[tuple[str, str | None, str]], i: int) -> list[Any]:
    vals = []
    for alias, nest, _ in spec:
        v = pdf[alias].iloc[i]
        if nest is not None and v is not None and not isinstance(v, np.ndarray):
            v = np.asarray(v)
        vals.append(v)
    return vals


# numpy reducers with a pure-JVM higher-order-function equivalent: passing
# one of these (the function object itself) as ``func`` over a single nested
# column skips Python entirely. Empty-cell semantics are matched to numpy
# where sane: mean([]) -> NaN, sum([]) -> 0.0; min/max of an empty cell give
# NULL (numpy raises there, which a distributed engine shouldn't).
_NUMPY_HOF_REDUCERS: dict[int, tuple[str, str]] = {}


def _register_numpy_reducers() -> None:
    for fn, how in [
        (np.mean, "mean"), (np.nanmean, "mean"),
        (np.sum, "sum"), (np.nansum, "sum"),
        (np.min, "min"), (np.nanmin, "min"),
        (np.max, "max"), (np.nanmax, "max"),
    ]:
        _NUMPY_HOF_REDUCERS[id(fn)] = (how, fn.__name__)


_register_numpy_reducers()


def _hof_reduce_sql(arr_sql: str, how: str) -> str:
    """JVM-side reduction over an ``array<numeric>`` SQL expression."""
    dbl = f"transform({arr_sql}, __v -> CAST(__v AS DOUBLE))"
    total = f"aggregate({dbl}, CAST(0.0 AS DOUBLE), (__a, __v) -> __a + __v)"
    if how == "sum":
        return f"CASE WHEN {arr_sql} IS NULL THEN NULL ELSE {total} END"
    if how == "mean":
        # 0/0 -> NaN matches np.mean([]) (ANSI mode: use try_divide)
        return (
            f"CASE WHEN {arr_sql} IS NULL THEN NULL "
            f"WHEN size({arr_sql}) = 0 THEN CAST('NaN' AS DOUBLE) "
            f"ELSE {total} / size({arr_sql}) END"
        )
    return f"array_{how}({dbl})"


def map_rows(
    df: DataFrame,
    func: Callable,
    columns: list[str],
    output_names: list[str] | None = None,
    output_schema: str | T.StructType | None = None,
    row_container: str = "args",
    infer_nesting: bool = True,
    append_columns: bool = False,
    repartition: bool | int | None = None,
    **kwargs: Any,
) -> DataFrame:
    """Apply ``func`` once per top-level row.

    ``columns`` selects inputs: base names give scalars, ``"nest.field"``
    gives a numpy array of that cell's values. Outputs (scalar or tuple)
    become columns named by ``output_names`` (or ``out0..``). Dotted output
    names like ``"res.x"`` pack into new nested columns when
    ``infer_nesting=True``. ``append_columns=True`` keeps the input columns
    alongside: they ride through the same ``mapInArrow`` pass as the Arrow
    arrays Spark hands over, so no join and no key is needed.
    """
    spec = _classify(df, columns)
    carried = df.columns if append_columns else []

    # fast path: a bare numpy reducer over ONE nested sub-column compiles to
    # a higher-order function — no Python workers, no Arrow transfer. The
    # reference's njit fast path fills this role on its side (SURVEY §2.8).
    hof = _NUMPY_HOF_REDUCERS.get(id(func))
    if (
        hof is not None
        and not kwargs
        and row_container == "args"
        and len(spec) == 1
        and spec[0][1] is not None
    ):
        how, _ = hof
        _, nest, fld = spec[0]
        name = (output_names or ["out0"])[0]
        if "." not in name:  # dotted outputs (infer_nesting) use the UDF path
            arr_sql = f"transform({quote(nest)}, __x -> __x.{quote(fld)})"
            col = F.expr(_hof_reduce_sql(arr_sql, how))
            if append_columns:
                return df.withColumn(name, col)
            return df.select(col.alias(name))

    # build a single projection carrying originals + UDF inputs
    sel = [F.col(quote(c)) for c in carried]
    seen = set(carried)
    for alias, nest, name in spec:
        if nest is None:
            if alias not in seen:
                sel.append(F.col(quote(name)).alias(alias))
                seen.add(alias)
        else:
            if alias not in seen:
                sel.append(
                    F.expr(f"transform({quote(nest)}, __x -> __x.{quote(name)})").alias(alias)
                )
                seen.add(alias)
    src = df.select(*sel)
    # the Python stage is CPU-bound per row; if the upstream plan collapsed
    # to a few partitions (small scan + broadcast join), pass ``repartition=``
    # to fan the batches across every core. Left off by default: at real
    # scale the input is already wide and the extra shuffle would be waste.
    if repartition:
        src = src.repartition(
            default_parallelism(src.sparkSession)
            if repartition is True
            else int(repartition)
        )

    # -- determine outputs ------------------------------------------------
    def call(vals: list[Any]) -> Any:
        if row_container == "dict":
            return func({c: v for c, v in zip(columns, vals)}, **kwargs)
        return func(*vals, **kwargs)

    if output_schema is None:
        # infer by running func on the first row driver-side
        sample = src.limit(1).toPandas()
        if len(sample) == 0:
            raise ValueError("map_rows on empty frame requires explicit output_schema")
        out0 = call(_row_values(sample, spec, 0))
        if isinstance(out0, dict):
            # dict outputs name their own columns (reference core.py:2024-2031
            # infers names — dotted keys included — from the returned dict)
            names = output_names or list(out0.keys())
            out0 = tuple(out0.values())
        elif not isinstance(out0, tuple):
            out0 = (out0,)
            names = output_names or ["out0"]
        else:
            names = output_names or [f"out{i}" for i in range(len(out0))]
        n_out = len(out0)
        out_fields = [
            T.StructField(nm.replace(".", "__"), _infer_spark_type(v), True)
            for nm, v in zip(names, out0)
        ]
    else:
        if isinstance(output_schema, str):
            output_schema = T._parse_datatype_string(output_schema)  # type: ignore[attr-defined]
        names = output_names or [f.name for f in output_schema.fields]
        out_fields = [
            T.StructField(nm.replace(".", "__"), f.dataType, True)
            for nm, f in zip(names, output_schema.fields)
        ]

    carried_fields = [src.schema[c] for c in carried] if carried else []
    result_schema = T.StructType(list(carried_fields) + out_fields)
    out_aliases = [f.name for f in out_fields]

    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    out_pa_types = [to_arrow_type(f.dataType) for f in out_fields]
    alias_list = [alias for alias, _, _ in spec]
    nest_flags = [nest is not None for _, nest, _ in spec]

    def _cells(arr: "pa.Array", is_nested: bool) -> list:
        """Per-row values: numpy views over the Arrow buffers for nested
        cells (the reference's ``iter_field_lists`` shape,
        ``ext_array.py:1029-1046``), plain scalars for base columns."""
        if not is_nested:
            return arr.to_pylist()
        try:
            # list<primitive>: slice the flat values buffer by offsets —
            # zero-copy views, no pandas, no per-cell allocation beyond them
            offsets = np.asarray(arr.offsets)
            flat = arr.values.to_numpy(zero_copy_only=False)
            nulls = arr.is_null().to_numpy(zero_copy_only=False)
            return [
                None if nulls[i] else flat[offsets[i]:offsets[i + 1]]
                for i in range(len(arr))
            ]
        except (pa.ArrowInvalid, ValueError, AttributeError):
            # non-primitive children (double nesting, structs): generic path
            return [
                None if v is None else np.asarray(v, dtype=object)
                for v in arr.to_pylist()
            ]

    def gen(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        drop_zip_finders()
        for rb in batches:
            cols = [
                _cells(rb.column(alias), is_n)
                for alias, is_n in zip(alias_list, nest_flags)
            ]
            n_out = len(out_aliases)
            out_cols: list[list] = [[] for _ in range(n_out)]
            appends = [c.append for c in out_cols]
            for tup in zip(*cols):
                res = call(list(tup))
                if isinstance(res, dict):
                    for j, nm in enumerate(names):
                        appends[j](_to_py(res.get(nm)))
                elif isinstance(res, tuple):
                    for j in range(n_out):
                        appends[j](_to_py(res[j]))
                else:
                    appends[0](_to_py(res))
            arrays = [rb.column(c) for c in carried]
            arrays += [
                pa.array(vals, type=t) for vals, t in zip(out_cols, out_pa_types)
            ]
            yield pa.RecordBatch.from_arrays(arrays, list(carried) + out_aliases)

    result = src.mapInArrow(gen, schema=result_schema)

    # -- infer_nesting: dotted output names repack into nested columns -----
    if infer_nesting:
        nests: dict[str, list[tuple[str, str]]] = {}
        for nm in names:
            if "." in nm:
                nest, fld = nm.split(".", 1)
                nests.setdefault(nest, []).append((nm.replace(".", "__"), fld))
        for nest, pairs in nests.items():
            zipped = F.arrays_zip(*[F.col(quote(a)).alias(f) for a, f in pairs]).alias(nest)
            keep = [c for c in result.columns if c not in {a for a, _ in pairs}]
            result = result.select(*[F.col(quote(c)) for c in keep], zipped)
        # rename non-dotted aliased outputs back
        for nm in names:
            if "." not in nm and nm.replace(".", "__") != nm:
                result = result.withColumnRenamed(nm.replace(".", "__"), nm)
    else:
        for nm in names:
            alias = nm.replace(".", "__")
            if alias != nm:
                result = result.withColumnRenamed(alias, nm)
    return result


def _to_py(v: Any) -> Any:
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, np.ndarray):
        return v.tolist()
    return v


def map_batches(
    df: DataFrame,
    func: Callable,
    schema: str | T.StructType,
    repartition: bool | int | None = None,
) -> DataFrame:
    """Apply ``func(pandas.DataFrame) -> pandas.DataFrame`` per Arrow batch.

    The batch-level escape hatch under :func:`map_rows`: when the user code
    is already vectorized (numpy/pandas over whole columns), skipping the
    per-row loop is ~10-50x faster. Thin, explicit wrapper over
    ``mapInPandas`` so the engine's repartition knob and schema handling stay
    consistent with map_rows.
    """
    src = df
    if repartition:
        src = src.repartition(
            default_parallelism(src.sparkSession)
            if repartition is True
            else int(repartition)
        )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            yield func(pdf)

    return src.mapInPandas(gen, schema=schema)


def map_groups(
    df: DataFrame,
    keys: str | list[str],
    func: Callable,
    schema: str | T.StructType,
) -> DataFrame:
    """Apply ``func(pandas.DataFrame) -> pandas.DataFrame`` once per key
    group — the grouped sibling of :func:`map_batches` for per-entity
    custom logic (per-user sessions, per-series model fits, per-object
    light curves) that needs ALL of a key's rows together.

    Thin, explicit wrapper over ``applyInPandas``: one hash shuffle on
    ``keys`` co-locates each group, then Arrow ships it to Python whole.
    The reference's ``map_rows`` covers per-ROW reductions (each base row's
    nested cell is already "the group"); ``map_groups`` is the Spark-first
    path when the grouping key is NOT the frame's row grain, skipping the
    pack/unpack round trip a reduce() would need.

    Scale notes: a group must fit in one task's memory (same contract as a
    packed cell); skewed keys want pre-aggregation or a salted two-stage
    scheme instead. Output schema is declared, not inferred — schema drift
    fails at plan time, not mid-job.

    Examples
    --------
    >>> df = spark.createDataFrame(
    ...     [("a", 1.0), ("a", 3.0), ("b", 10.0)], "k string, v double")
    >>> out = map_groups(df, "k",
    ...     lambda pdf: pdf.groupby("k", as_index=False).agg(rng=("v", lambda s: s.max() - s.min())),
    ...     "k string, rng double")
    >>> sorted(map(tuple, out.collect()))
    [('a', 2.0), ('b', 0.0)]
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    # applyInPandas passes the group key too when ``func`` takes two
    # arguments, so the wrapper keeps ``func``'s argument count.
    if len(inspect.getfullargspec(func).args) == 2:

        def run(key, pdf):
            drop_zip_finders()
            return func(key, pdf)
    else:

        def run(pdf):
            drop_zip_finders()
            return func(pdf)

    return df.groupBy(*keys).applyInPandas(run, schema=schema)
