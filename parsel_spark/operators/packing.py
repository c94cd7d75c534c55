"""Sequence packing — assigning documents to fixed-token-budget
training rows, the step between a cleaned corpus and an LLM data
loader.

Semantics: *concat-and-chunk* per shard — documents are laid out in a
deterministic order (ascending id within their shard) as one virtual
token stream, which is chopped into ``token_budget``-sized windows; a
document belongs to the window where it STARTS (``seq_id``) at byte
offset ``offset``.  This is the packing scheme most large-scale
training pipelines use (concatenate, then split at budget boundaries),
and unlike greedy first-fit bin packing it has a CLOSED FORM — a
running-sum window — so it is expressible as pure JVM window work and
replayable verbatim by the DuckDB oracle.  (Concat-and-chunk is the
packing used by the public GPT-style pretraining recipes; distributed
shard-local packing mirrors how public corpus toolchains shard the
problem.)

Scale shape: packing is SHARD-LOCAL (shard = floor(unit_hash × n)), so
shards pack independently and in parallel — one hash exchange + one
in-partition sort, no global ordering.  That is exactly how distributed
packers shard the problem; the shard id rides the output so a loader
can address (shard, seq_id) deterministically.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sampling import unit_hash


def pack_sequences(
    docs: DataFrame,
    token_budget: int,
    n_shards: int = 64,
    id_col: str = "doc_id",
    tokens_col: Column | None = None,
    seed: int = 0,
) -> DataFrame:
    """(id, shard, n_tokens, seq_id, offset): deterministic
    concat-and-chunk packing of each shard's documents into
    ``token_budget``-token training rows.

    ``tokens_col`` defaults to the whitespace token count
    (``textstats.token_count``); pass any integer column expression
    (e.g. a BPE count) to pack by a different tokenizer."""
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    if tokens_col is None:
        from ..functions.textstats import token_count

        tokens_col = token_count().cast("long")
    shard = F.floor(unit_hash(id_col, seed) * F.lit(n_shards)).cast("int")
    with_shard = docs.select(
        F.col(id_col),
        shard.alias("shard"),
        tokens_col.alias("n_tokens"),
    )
    window = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(window)
    # integer arithmetic only (`div`/`pmod`) — exact at any corpus size
    # (double division would lose integer exactness past 2^53
    # tokens/shard); DuckDB twin: `//` and `%`
    return with_shard.select(
        id_col,
        "shard",
        "n_tokens",
        (cum - F.col("n_tokens")).alias("__start"),
    ).select(
        id_col,
        "shard",
        "n_tokens",
        F.expr(f"__start div {int(token_budget)}").cast("long").alias("seq_id"),
        F.pmod("__start", F.lit(int(token_budget))).cast("long").alias("offset"),
    )


def pack_sequences_greedy(
    docs: DataFrame,
    token_budget: int,
    n_shards: int = 64,
    id_col: str = "doc_id",
    tokens_col: Column | None = None,
    seed: int = 0,
) -> DataFrame:
    """Greedy NEXT-FIT packing — the other industry semantic: a document
    never straddles two training rows; when it does not fit in the open
    row's remaining budget, a new row opens (an over-budget document
    occupies a row alone).  Output: (id, shard, n_tokens, seq_id,
    offset).

    The running fit decision is inherently sequential, so unlike the
    concat-and-chunk form it has no window closed form — it runs as a
    per-shard ``applyInArrow`` fold over the shard's id-ordered docs
    (shards pack independently and in parallel; one hash exchange).
    Still deterministic and engine-replayable: the DuckDB oracle walks
    the same fold with a recursive CTE over per-shard row_numbers (a
    fold, so not on ``functions/rows.py``)."""
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    if tokens_col is None:
        from ..functions.textstats import token_count

        tokens_col = token_count().cast("long")
    shard = F.floor(unit_hash(id_col, seed) * F.lit(n_shards)).cast("int")
    with_shard = docs.select(
        F.col(id_col), shard.alias("shard"), tokens_col.alias("n_tokens")
    )
    # the id field keeps the input's own type (string doc ids work here
    # exactly as they do in unit_hash / pack_sequences)
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, shard int, n_tokens long, "
        "seq_id long, offset long"
    )
    budget = int(token_budget)

    def fold(table: pa.Table) -> pa.Table:
        table = table.sort_by(id_col)  # stable: equal ids keep input order
        seq, used = 0, 0
        seqs, offs = [], []
        for n in table["n_tokens"].to_pylist():
            if used > 0 and used + n > budget:
                seq += 1
                used = 0
            seqs.append(seq)
            offs.append(used)
            used += n
        return table.append_column(
            "seq_id", pa.array(seqs, pa.int64())
        ).append_column("offset", pa.array(offs, pa.int64()))

    return with_shard.groupBy("shard").applyInArrow(fold, schema=out_schema)


def chunk_windows(
    docs: DataFrame,
    window: int,
    stride: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window chunking — the long-document half of sequence
    preparation: where :func:`pack_sequences` CONCATENATES short docs up
    to the budget, this SPLITS long docs into overlapping context
    windows (``stride < window`` repeats ``window - stride`` boundary
    tokens so no next-token prediction loses its left context — the
    public GPT-2/RoBERTa data-prep recipe).

    Output, one row per window: ``(id, window_id, start_tok, end_tok,
    n_window_tokens, window_text)`` over positional whitespace tokens
    (``dedup.seq_tokens_col``; whitespace runs normalize to single
    spaces — the documented lossy part).  Window starts are 0, stride,
    2*stride, ... strictly below the doc's token count; the final
    window may be short (standard practice), and every doc emits at
    least one window.  ``stride > window`` (gap sampling) is allowed
    but leaves tokens uncovered.

    Scale shape: pure map-side JVM algebra (split + sequence +
    posexplode + slice) — NO shuffle, no Python; output rows inflate
    the corpus by ~n_tokens/stride, which is the caller's knob."""
    if window < 1 or stride < 1:
        raise ValueError(
            f"need window >= 1 and stride >= 1, got {window}, {stride}"
        )
    from .dedup import seq_tokens_col

    base = docs.select(
        F.col(id_col), seq_tokens_col(text_col).alias("toks")
    ).withColumn("n_tokens", F.size("toks"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("n_tokens") - 1, F.lit(0)), F.lit(stride)
    )
    ex = base.select(
        id_col,
        "toks",
        "n_tokens",
        F.posexplode(starts).alias("window_id", "start_tok"),
    )
    end = F.least(F.col("start_tok") + window, F.col("n_tokens"))
    return ex.select(
        id_col,
        "window_id",
        "start_tok",
        end.alias("end_tok"),
        (end - F.col("start_tok")).alias("n_window_tokens"),
        F.concat_ws(
            " ",
            F.slice(
                "toks", F.col("start_tok") + 1, end - F.col("start_tok")
            ),
        ).alias("window_text"),
    )
