"""Structured Streaming variants of the crawl operators.

The batch crawl is wave-synchronous (exact-parity requirement); this
module provides the streaming shape for continuous ingest: a stream of
fetched pages → vectorized link extraction → canonicalization →
watermarked streaming dedup.  The same Arrow UDFs and column algebra
run unchanged on streaming DataFrames.

Politeness in streaming mode uses ``applyInPandasWithState`` with a
per-host token-bucket GroupState — same arithmetic as the batch gate.

:func:`stream_once` is the one place a streaming query is started: it
runs any stream operator over the rows of a batch frame under one
``availableNow`` trigger and hands the result back as a batch frame —
how every streaming registry row runs its operator against the same
oracle as its batch twin.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from typing import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.udfs import extract_canonical_links
from ..operators.frontier import (
    INITIAL_TOKENS,
    MAX_FETCH_CAP,
    TOKEN_CAP,
)


def read_page_stream(
    spark: SparkSession, input_path: str, schema: str | None = None
) -> DataFrame:
    """File-source stream of page rows (one parquet batch per micro-run)."""
    schema = schema or (
        "url string, host string, html string, fetched_at timestamp"
    )
    return spark.readStream.schema(schema).parquet(input_path)


def stream_once(
    df: DataFrame,
    op: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
) -> DataFrame:
    """Run ``op`` as a Structured Streaming query over the rows of the
    batch frame ``df`` and return its result as a batch frame.

    ``df`` is written to a fresh temp parquet dir; a file-source stream
    over it, typed by ``df.schema``, goes through ``op``; the query runs
    to completion under one ``availableNow`` trigger.  ``append`` sinks
    to parquet; ``complete`` (a streaming aggregation's full table)
    sinks to memory, since the parquet sink cannot take complete mode.
    Pass ``df.coalesce(1)`` when the operator must see the input as one
    micro-batch (one input file).

    Once the query has terminated the input copy and the checkpoint are
    deleted; only a parquet sink stays on disk, because the returned
    frame reads it.  A memory sink's rows are already on the driver:
    they are collected into a local frame and the sink's temp view is
    dropped, so no call leaves a view (or its rows) behind."""
    spark = df.sparkSession
    tmp = tempfile.mkdtemp(prefix="parsel_spark_stream_")
    name = os.path.basename(tmp)
    in_dir, chk, out_dir = (os.path.join(tmp, d) for d in ("in", "chk", "out"))
    df.write.parquet(in_dir)
    writer = (
        op(spark.readStream.schema(df.schema).parquet(in_dir))
        .writeStream.outputMode(output_mode)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
    )
    complete = output_mode == "complete"
    if complete:
        query = writer.format("memory").queryName(name).start()
    else:
        query = writer.format("parquet").start(out_dir)
    try:
        query.awaitTermination()
    finally:
        for path in (in_dir, chk):
            shutil.rmtree(path, ignore_errors=True)
    if complete:
        os.rmdir(tmp)
        sink = spark.table(name)
        rows, schema = sink.collect(), sink.schema
        spark.catalog.dropTempView(name)
        return spark.createDataFrame(rows, schema)
    return spark.read.parquet(out_dir)


def extract_link_stream(pages: DataFrame) -> DataFrame:
    """Streaming link extraction + canonicalization + per-watermark
    dedup, via the SAME fused parse+select+resolve+canonicalize Arrow
    UDF the batch wave runs (one Python hop per page).
    ``dropDuplicatesWithinWatermark`` bounds the dedup state — the
    global exact seen-set still lives in the snapshot tables and is
    applied by the batch join of each micro-run's output."""
    links = pages.withWatermark("fetched_at", "10 minutes").select(
        "fetched_at",
        F.explode(extract_canonical_links("html", "url")).alias("url"),
    )
    return links.withColumn(
        "url_hash", F.xxhash64("url")
    ).dropDuplicatesWithinWatermark(["url"])


def politeness_stream(
    pages: DataFrame,
    crawl_delay_s: float = 1.0,
    max_fetch_per_batch: int | None = None,
) -> DataFrame:
    """Stateful per-host token bucket over a page-request stream
    (``applyInPandasWithState``): emits the requests each host may fetch
    now; carries the token balance as GroupState.

    Batch parity (the wave loop is the oracle-exact reference; tests
    assert this gate reproduces ``politeness_dequeue`` on identical
    input): per trigger the bucket refills once by ``1/crawl_delay``
    (per-host ``crawl_delay`` / ``max_fetch_per_wave`` input columns
    override the defaults), candidates are ranked by the SAME
    ``(priority DESC, seq, url_hash, url)`` total order when those
    columns are present (arrival order otherwise), and the admit count
    is ``min(floor(tokens), max_fetch, |candidates|, MAX_FETCH_CAP)``.

    Refill catch-up for hosts absent from intermediate triggers: with
    ``NoTimeout``, the gate is only invoked for hosts PRESENT in a
    trigger, so a host quiet for n triggers would otherwise miss n
    refills and diverge from the wave loop (which refills every host
    every wave).  When the input carries a ``wave`` column (the trigger
    / wave sequence number — the batch loop's wave index), the gate
    stores the host's last seen wave and applies ``wave_gap`` refills
    at once; sequential per-wave capping and one capped addition agree
    (``min(CAP, t + g·r)`` — each step only adds), so the catch-up is
    exactly the batch fixpoint.  Without a ``wave`` column the gate
    refills once per invocation (documented single-refill semantics).
    Grouped, not on ``functions/rows.py``: it ranks a host's requests
    together.  pandas, not Arrow: pyspark 4.1 has no Arrow twin of
    ``GroupState`` (``transformWithState`` is a different state API)."""

    out_schema = "host string, url string, allowed boolean"
    # the host's crawl_delay and last-seen wave ride the state so empty
    # triggers and absence gaps still refill at the HOST's rate (batch
    # parity: host_state_update refills every host each wave)
    state_schema = "tokens double, crawl_delay double, last_wave long"

    def gate(
        key: tuple,
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (host,) = key
        if state.exists:
            tokens, stored_delay, last_wave = (
                state.get[0],
                state.get[1],
                state.get[2],
            )
        else:
            tokens, stored_delay, last_wave = INITIAL_TOKENS, None, None
        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            delay = stored_delay if stored_delay is not None else crawl_delay_s
            state.update(
                (min(TOKEN_CAP, tokens + 1.0 / delay), delay, last_wave)
            )
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        delay = (
            float(pdf["crawl_delay"].iloc[0])
            if "crawl_delay" in pdf.columns
            else crawl_delay_s
        )
        max_fetch = (
            int(pdf["max_fetch_per_wave"].iloc[0])
            if "max_fetch_per_wave" in pdf.columns
            else (max_fetch_per_batch or MAX_FETCH_CAP)
        )
        wave = int(pdf["wave"].iloc[0]) if "wave" in pdf.columns else None
        if wave is not None and last_wave is not None:
            refills = max(1, wave - int(last_wave))
        else:
            refills = 1
        tokens = min(TOKEN_CAP, tokens + refills * (1.0 / delay))
        last_wave = wave
        order_cols = [c for c in ("priority", "seq", "url_hash", "url") if c in pdf.columns]
        if order_cols:
            pdf = pdf.sort_values(
                order_cols,
                ascending=[c != "priority" for c in order_cols],
                kind="mergesort",
            ).reset_index(drop=True)
        k = min(int(tokens), max_fetch, len(pdf), MAX_FETCH_CAP)
        tokens -= float(k)
        allowed = [i < k for i in range(len(pdf))]
        state.update((tokens, delay, last_wave))
        yield pd.DataFrame(
            {"host": host, "url": pdf["url"], "allowed": allowed}
        )

    return pages.groupBy("host").applyInPandasWithState(
        gate,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming EXACT dedup keyed on content hash — first sighting
    wins (``applyInPandasWithState``): the first trigger containing a
    given ``md5(text)`` emits ONE row ``(text_md5, id, dup_count)``
    with the trigger's min id and arrival count; every later trigger's
    arrivals of that hash are suppressed (the state keeps counting them
    in ``total`` but emits nothing — append-mode streams cannot retract
    the already-emitted row, so re-emitting updated counts would
    duplicate keys downstream; suppression IS the dedup contract).

    Single-trigger parity: when the whole input arrives in one trigger
    this equals batch ``exact_dedup`` exactly (min id + full count per
    distinct text) — the driver row runs that equivalence against the
    same DuckDB oracle SQL as the batch row.

    Scale shape: the groupBy shuffles (hash, id) pairs only — text
    never moves past the map-side md5 — and state is one
    (boolean, long) per DISTINCT content hash, sharded across
    executors' state stores by the same key.  At 100 TB-corpus scale
    that state belongs in the RocksDB state store provider with a
    TTL/timeout eviction policy (``GroupStateTimeout``) chosen by the
    dedup horizon; NoTimeout here = unbounded horizon, the batch-parity
    semantic.  Grouped, not on ``functions/rows.py``: state per hash.
    pandas, not Arrow: pyspark 4.1 has no Arrow twin of ``GroupState``
    (``transformWithState`` is a different state API)."""
    id_type = docs.schema[id_col].dataType.simpleString()
    out_schema = f"text_md5 string, {id_col} {id_type}, dup_count long"
    state_schema = "seen boolean, total long"

    keyed = docs.select(
        F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col)
    )

    def first_wins(
        key: tuple,
        batches: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        (text_md5,) = key
        pdfs = [pdf for pdf in batches if len(pdf)]
        if not pdfs:
            return
        n = sum(len(pdf) for pdf in pdfs)
        if state.exists:
            _, total = state.get
            state.update((True, int(total) + n))
            return
        first_id = min(pdf[id_col].min() for pdf in pdfs)
        state.update((True, n))
        yield pd.DataFrame(
            {"text_md5": [text_md5], id_col: [first_id], "dup_count": [n]}
        )

    return keyed.groupBy("text_md5").applyInPandasWithState(
        first_wins,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
