"""The engine's one per-row Arrow boundary.

:func:`row_udf` owns the only scalar ``pandas_udf`` that loops over
rows: the zip over the batch, the result's shape (``object`` dtype, so
pandas never infers float64 for an int64 column holding a NULL) and,
through :func:`guarded`, the one broad ``except``.  Grouped-map sites
(``applyInPandas``, ``mapInPandas``, cogroups,
``applyInPandasWithState``) see a whole group and may emit any number
of rows, so they stay off it; so do dedup's two int64-array numpy UDFs.
"""

from __future__ import annotations

from typing import Any, Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf


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
    A struct ``fn`` returns a dict or a tuple in field order."""

    @pandas_udf(return_type)
    def _udf(*series: pd.Series) -> pd.Series:
        out = [fn(*row) for row in zip(*series)]
        if isinstance(return_type, T.StructType):
            return pd.DataFrame(out, columns=return_type.names, dtype=object)
        return pd.Series(out, dtype=object)

    return _udf(*columns)
