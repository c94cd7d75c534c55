"""The engine's one per-row Arrow boundary.

:func:`row_udf` owns the only scalar ``arrow_udf`` that loops over
rows: the zip over the batch's Python values, the result built as one
Arrow array of the declared type (so an int64 column holding a NULL
stays int64) and, through :func:`guarded`, the one broad ``except``.
Grouped-map sites (``applyInArrow``, ``mapInArrow``, cogroups) see a
whole group and may emit any number of rows, so they stay off it; so
do dedup's two int64-array UDFs, which take each row as a numpy array.
"""

from __future__ import annotations

from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type


def arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema a grouped-map or ``mapInArrow`` site must emit
    for the Spark schema ``ddl``: the worker checks every column's
    type against it."""
    return to_arrow_schema(T.StructType.fromDDL(ddl))


def empty_value(return_type: T.DataType) -> Any:
    """The value a row without a result yields, derived from its type:
    ``[]`` for arrays, ``{}`` for maps, a row of ``[]`` per field for
    structs, NULL otherwise."""
    if isinstance(return_type, T.ArrayType):
        return []
    if isinstance(return_type, T.MapType):
        return {}
    if isinstance(return_type, T.StructType):
        return {name: [] for name in return_type.names}
    return None


def guarded(fn: Callable[..., Any], empty: Any) -> Callable[..., Any]:
    """``fn`` wrapped so that an exception yields ``empty`` — the
    engine's one broad ``except`` for per-row work."""

    def call(*args: Any) -> Any:
        try:
            return fn(*args)
        except Exception:
            return empty

    return call


def row_udf(
    return_type: T.DataType, fn: Callable[..., Any], *columns: Column | str
) -> Column:
    """``fn(*row)`` for each row of ``columns``, as one Arrow-batched
    column of ``return_type``.  ``fn`` sees NULLs as ``None`` and owns
    its own null and error policy (wrap it in :func:`guarded` for one).
    Every struct value ``fn`` returns, at the top level or nested, is a
    dict keyed by field name: Arrow takes one struct shape per batch,
    and :func:`empty_value` of a struct is a dict."""
    arrow_type = to_arrow_type(return_type)

    @arrow_udf(return_type)
    def _udf(*arrays: pa.Array) -> pa.Array:
        rows = zip(*(a.to_pylist() for a in arrays))
        return pa.array([fn(*row) for row in rows], type=arrow_type)

    return _udf(*columns)
