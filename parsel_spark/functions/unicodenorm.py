"""Unicode normalization for training-text hygiene.

Web text arrives in mixed normalization forms: the same visible string
("é") can be one precomposed code point or a base letter plus a
combining mark.  Downstream exact/near dedup, shingling and token
counting all key on code points, so two byte-different spellings of
identical text defeat deduplication and skew counts unless the corpus
is normalized first — every public pipeline runs an NFC (or NFKC) pass
before hashing.

Spark has no built-in Unicode-normalization expression, so this is one
of the few justified Python hops in the repo: an Arrow-batched
UDF over ``unicodedata.normalize`` (the Unicode reference
implementation shipped with CPython).  The DuckDB oracle replays it
through ``nfc_normalize`` (utf8proc) — two INDEPENDENT implementations
of UAX #15 agreeing value-for-value is the correctness argument.

Map-only: no shuffle, no state; composes in front of any hashing or
tokenizing operator.
"""

from __future__ import annotations

import unicodedata

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rows import row_udf

_FORMS = ("NFC", "NFD", "NFKC", "NFKD")


def nfc(col: Column | str) -> Column:
    """NFC-normalize a string column (canonical composition)."""
    return _normalize(col, "NFC")


def nfkc(col: Column | str) -> Column:
    """NFKC-normalize a string column (compatibility composition —
    also folds width/ligature/superscript compatibility characters;
    the aggressive form some pipelines prefer for token stability)."""
    return _normalize(col, "NFKC")


def _normalize(col: Column | str, form: str) -> Column:
    if form not in _FORMS:
        raise ValueError(f"form must be one of {_FORMS}, got {form!r}")
    # nulls pass through untouched
    return row_udf(
        T.StringType(),
        lambda text: None if text is None else unicodedata.normalize(form, text),
        col,
    )


def normalize_text(
    docs: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
) -> DataFrame:
    """Normalize ``text_col`` in place and report what changed:
    adds ``changed`` (the text was not already in the target form) and
    ``len_before`` / ``len_after`` (code-point counts — combining
    sequences shrink under composition).  All other columns pass
    through untouched."""
    raw = F.col(text_col)
    passthrough = [c for c in docs.columns if c != text_col]
    # project the UDF result once, then derive the report columns from
    # the projection — referencing the UDF expression several times
    # could evaluate the Python hop several times
    staged = docs.withColumn("__normed", _normalize(raw, form))
    return staged.select(
        *passthrough,
        F.col("__normed").alias(text_col),
        (F.col("__normed") != raw).alias("changed"),
        F.length(raw).cast("long").alias("len_before"),
        F.length("__normed").cast("long").alias("len_after"),
    )
