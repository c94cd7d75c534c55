"""Per-layer probes of the traced run, the same on every workload.

* in-process ``selector`` / ``functions`` timings on a fixed page sample
  (seed 0, small and ~15 KB pages, the ``query_suite`` page generator);
* the same sample through Spark, one query per extraction kind plus an
  identity pandas UDF: busy core-ms per page (from the event log) minus
  the in-process ms per page is the UDF-boundary cost.
"""

from __future__ import annotations

import time

import pandas as pd

from .common import cores, median
from .pages import KINDS, XPATH, in_process, kind_query
from .inputs import pages_config, page_html

SAMPLE_SEED = 0
SAMPLE_N = 300
REPEATS = 3
#: copies of the sample in the Spark probe, so per-task fixed costs
#: spread over enough pages to read as a per-page cost
SPARK_COPIES = 4


def sample_pages() -> list[tuple[str, str, bool]]:
    cfg = pages_config(SAMPLE_SEED, SAMPLE_N)
    cdf = cfg.cdf()
    return [page_html(SAMPLE_SEED, i, cfg, cdf) for i in range(SAMPLE_N)]


def _per_page_ms(fn, items) -> float:
    """Median over REPEATS of the mean ms per item."""
    runs = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        for item in items:
            fn(item)
        runs.append((time.perf_counter() - t) * 1000.0 / len(items))
    return median(runs)


def in_process_probe(pages, tracer) -> dict:
    from parsel_spark.functions.canonical import canonicalize_url, resolve_url
    from parsel_spark.functions.maintext import main_text_str
    from parsel_spark.selector import Selector

    out: dict = {}
    groups = {
        "small": [p for p in pages if not p[2]][:40],
        "large": [p for p in pages if p[2]][:8],
    }
    for label, group in groups.items():
        htmls = [html for _url, html, _large in group]
        with tracer.span(f"selector.{label}", "selector"):
            out[f"selector.parse_ms.{label}"] = _per_page_ms(
                lambda h: Selector(text=h), htmls
            )
            sels = [Selector(text=h) for h in htmls]
            out[f"selector.css_links_ms.{label}"] = _per_page_ms(
                lambda s: s.css("a::attr(href)").getall(), sels
            )
            out[f"selector.xpath_text_ms.{label}"] = _per_page_ms(
                lambda s: s.xpath(XPATH).getall(), sels
            )
        with tracer.span(f"functions.{label}", "functions"):
            out[f"functions.main_text_ms.{label}"] = _per_page_ms(
                main_text_str, htmls
            )
    links = [
        (url, href)
        for url, html, _large in groups["small"]
        for href in Selector(text=html).css("a::attr(href)").getall()
    ]
    with tracer.span("functions.canonicalize", "functions"):
        out["functions.canonicalize_us"] = 1000.0 * _per_page_ms(
            lambda pair: canonicalize_url(resolve_url(*pair)), links
        )
    return out


def udf_probe(spark, pages, tracer) -> dict:
    """Runs the probe queries; with tracing on, also what the event-log
    pass needs (in-process ms per page, silent empties)."""
    from pyspark.sql.functions import pandas_udf

    from parsel_spark.functions import xpath_getall
    from parsel_spark.functions.maintext import main_text
    from parsel_spark.functions.udfs import extract_canonical_links

    df = (
        spark.createDataFrame(
            [
                (i, copy, url, html)
                for copy in range(SPARK_COPIES)
                for i, (url, html, _l) in enumerate(pages)
            ],
            "page_id long, copy int, url string, html string",
        )
        .repartition(cores())
        .cache()
    )
    df.count()

    @pandas_udf("string")
    def identity(s: pd.Series) -> pd.Series:
        return s

    queries = {kind: kind_query(kind, df) for kind in KINDS}
    queries["arrow"] = df.select(identity("html").alias("out"))
    for q in queries.values():  # warm-up: worker start, imports
        q.write.format("noop").mode("overwrite").save()
    walls = []
    for _ in range(REPEATS):
        t = time.perf_counter()
        for name, q in queries.items():
            with tracer.span(f"probe.{name}", "probe"):
                q.write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t)
    wall_s = median(walls)
    if not tracer.enabled:
        df.unpersist()
        return {"wall_s": wall_s}

    # in-process ms per page over the same sample, and silent empties
    in_ms, silent = {}, 0
    udf_rows = {
        r["page_id"]: r
        for r in df.filter("copy = 0").select(
            "page_id",
            extract_canonical_links("html", "url").alias("links"),
            xpath_getall("html", XPATH).alias("xpath"),
            main_text("html").alias("main_text"),
        ).collect()
    }
    for kind in KINDS:
        t = time.perf_counter()
        local = [in_process(kind, url, html) for url, html, _l in pages]
        in_ms[kind] = (time.perf_counter() - t) * 1000.0 / len(pages)
        for i, value in enumerate(local):
            if value and not udf_rows[i][kind]:
                silent += 1
    df.unpersist()
    return {
        "wall_s": wall_s,
        "in_process_ms": in_ms,
        "silent_empty": silent,
        "pages": len(pages) * SPARK_COPIES,
    }


def udf_metrics(probe: dict, spans: list[dict], totals: dict) -> dict:
    n = probe["pages"]

    def busy_ms(name):
        """Median over the repeats of the busy core-ms per page."""
        runs = [
            totals[s["id"]]["task_ms"]
            for s in spans
            if s["layer"] == "probe" and s["name"] == f"probe.{name}"
        ]
        return median(runs) / n

    out = {
        f"functions.udf_overhead_ms.{kind}": busy_ms(kind) - probe["in_process_ms"][kind]
        for kind in KINDS
    }
    out["functions.arrow_floor_ms"] = busy_ms("arrow")
    out["functions.silent_empty"] = probe["silent_empty"]
    return out
