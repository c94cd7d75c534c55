"""``query_suite``: the read-only query workload.

* 11 rows of ``__spark_entry__.queries()`` over the fixed tables in
  ``perfbench/data`` (the sf0.01 test tables), one or more per analytics
  module: selector UDFs, dedup, similarity, multimodal, textstats,
  linkgraph, SQL, and ``stream_crawl_pipeline`` for
  ``parsel_spark/streaming``;
* the three extraction kinds of ``pages.py`` over a seeded page corpus.

Setup runs one UDF row (it starts the Python workers) and caches the
page corpus.  The timed pass runs every row once, collecting its result,
which is compared with the row's DuckDB ``oracle_sql()`` afterwards.
The other rows of the frozen ``bench.py`` set stay out so that a run
fits the benchmark's time budget; see ``README.md``.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

from . import pages
from .common import CACHE_DIR, ROOT, geomean, log
from .inputs import page_corpus

DATA_DIR = os.path.join(ROOT, "perfbench", "data")
ROWS = (
    "crawl_extract_links",
    "selector_caption_xpath",
    "doc_main_text",
    "doc_exact_dedup",
    "emb_knn_lsh",
    "img_phash_near_dup",
    "doc_token_stats",
    "doc_quality_filter",
    "crawl_host_pagerank",
    "q_pricing_summary",
    "stream_crawl_pipeline",
)
#: the first Python UDF starts the workers: paid in setup, not by a row
WARMUP = ("crawl_extract_links",)
SIZES = {"full": ROWS, "tiny": ("q_pricing_summary", "doc_exact_dedup")}
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def prepare(seed: int, size: str) -> str:
    return page_corpus(seed, pages.SIZES[size])


def run(ctx, corpus: str) -> dict:
    import __spark_entry__ as entry

    spark, tracer, checks = ctx.spark, ctx.tracer, ctx.checks
    rows = SIZES[ctx.size]
    n_pages = pages.SIZES[ctx.size]
    queries = entry.queries()

    t = time.perf_counter()
    for name in WARMUP:
        with tracer.span(f"warmup.{name}", "setup"):
            queries[name](spark, DATA_DIR).write.format("noop").mode("overwrite").save()
    with tracer.span("load_pages", "setup"):
        page_df = pages.load(spark, corpus)
    setup_s = time.perf_counter() - t
    log("setup done")

    results: dict[str, tuple[list, list] | Exception] = {}
    times: dict[str, float] = {}
    for name in rows:
        t = time.perf_counter()
        with tracer.span(name, "op", query=name):
            try:
                df = queries[name](spark, DATA_DIR)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # one failed operation
                results[name] = exc
        times[name] = time.perf_counter() - t
    for kind in pages.KINDS:
        name = f"pages.{kind}"
        t = time.perf_counter()
        with tracer.span(name, "op", query=name):
            pages.kind_query(kind, page_df).write.format("noop").mode("overwrite").save()
        times[name] = time.perf_counter() - t
        checks.op()

    end_to_end = {
        "setup_s": ctx.session_s + setup_s,
        "items_per_s": len(times) / sum(times.values()),
        "op_s.geomean": geomean(times.values()),
    }
    log("timed pass done")
    _check(ctx, results, entry)
    log("oracles checked")
    pages.check(ctx, page_df, ctx.seed, n_pages)
    log("pages checked")
    page_df.unpersist()

    row_times = [times[name] for name in rows]
    detail = {"suite_s": sum(row_times), "suite_geomean_s": geomean(row_times)}
    detail.update(
        {f"pages_per_s.{k}": n_pages / times[f"pages.{k}"] for k in pages.KINDS}
    )
    detail.update({f"suite.{name}.s": s for name, s in times.items()})
    return {"end_to_end": end_to_end, "detail": detail, "op_layer": "op"}


def _oracle_answers(oracles: dict, names) -> dict:
    """Normalized DuckDB answers per row.  The tables are fixed, so the
    answers are cached on disk, keyed by the oracle SQL and the tables."""
    import duckdb

    from tools.selfcheck import norm_rows

    key = hashlib.sha256()
    for name in names:
        key.update(f"{name}\0{oracles[name]}\0".encode())
    for table in TABLES:
        key.update(f"{table}:{os.path.getsize(_table(table))}".encode())
    path = os.path.join(CACHE_DIR, f"oracles-{key.hexdigest()[:16]}.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    con = duckdb.connect()
    for table in TABLES:
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{_table(table)}')")
    answers = {}
    for name in names:
        rel = con.sql(oracles[name])
        columns = [d[0] for d in rel.description]
        answers[name] = {
            "columns": sorted(columns),
            "rows": [list(r) for r in norm_rows(columns, rel.fetchall())],
        }
    con.close()
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(answers, fh)
    os.replace(tmp, path)
    return answers


def _table(name: str) -> str:
    return os.path.join(DATA_DIR, f"{name}.parquet")


def _check(ctx, results: dict, entry) -> None:
    """Each row against its DuckDB oracle, with the comparison of
    ``tools/selfcheck.py``; outside the timed window."""
    from tools.selfcheck import norm_rows

    answers = _oracle_answers(entry.oracle_sql(), list(results))
    for name, got in results.items():
        ctx.checks.op(not isinstance(got, Exception), f"{name} raised {got!r}")
        if isinstance(got, Exception):
            continue
        columns, rows = got
        if ctx.plant and name == next(iter(results)):
            # self-test mode: a wrong output must count as a failure
            rows = rows[1:]
        want = answers[name]
        ok = sorted(columns) == want["columns"] and [
            list(r) for r in norm_rows(columns, rows)
        ] == want["rows"]
        ctx.checks.check(ok, f"{name} differs from its oracle")
