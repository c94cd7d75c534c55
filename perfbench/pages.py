"""The three extraction kinds, timed as rows of ``query_suite``.

Each kind is its own Spark query over a cached, seeded page corpus
(``inputs.page_corpus``; one page in ten is ~15 KB), noop sink:

* ``pages.links``: ``operators.frontier.extract_wave_links``, the
  crawl's fused parse/select/resolve/canonicalize UDF;
* ``pages.xpath``: ``functions.xpath_getall(html, XPATH)``;
* ``pages.main_text``: ``functions.maintext.main_text``.

Page size drives parse cost, and the kinds walk the tree differently,
so a shortcut for one kind shows on that kind and its cost on the others.
"""

from __future__ import annotations

from collections import Counter

from .common import cores
from .inputs import expected_links

SIZES = {"full": 1_000, "tiny": 40}
KINDS = ("links", "xpath", "main_text")
XPATH = "//h1[@class='title']/text()"
#: small and large pages of the in-process equality sample
SAMPLE_SMALL, SAMPLE_LARGE = 20, 10


def kind_query(kind: str, pages):
    from parsel_spark.functions import xpath_getall
    from parsel_spark.functions.maintext import main_text
    from parsel_spark.operators.frontier import extract_wave_links

    if kind == "links":
        return extract_wave_links(pages.select("url", "html"))
    if kind == "xpath":
        return pages.select(xpath_getall("html", XPATH).alias("out"))
    return pages.select(main_text("html").alias("out"))


def in_process(kind: str, url: str, html: str):
    """The single-document form every UDF must agree with."""
    from parsel_spark.functions.canonical import resolve_url
    from parsel_spark.functions.maintext import main_text_str
    from parsel_spark.selector import Selector

    if kind == "main_text":
        return main_text_str(html)
    sel = Selector(text=html)
    if kind == "xpath":
        return sel.xpath(XPATH).getall()
    hrefs = sel.css("a::attr(href)").getall()
    return [u for u in (resolve_url(url, h) for h in hrefs) if u is not None]


def load(spark, path: str):
    """Read and cache the corpus, spread so large pages balance."""
    df = spark.read.parquet(path).repartition(4 * cores()).cache()
    df.count()
    return df


def check(ctx, pages, seed: int, n_pages: int) -> None:
    """Outside the timed window; every miss is one failed check."""
    from pyspark.sql import functions as F

    from parsel_spark.functions import xpath_getall
    from parsel_spark.functions.maintext import main_text
    from parsel_spark.functions.udfs import extract_canonical_links

    checks = ctx.checks
    got = Counter(r["url"] for r in kind_query("links", pages).collect())
    want = Counter(expected_links(seed, n_pages))
    if ctx.plant:
        # self-test mode: a wrong output must count as a failure
        got[next(iter(got))] += 1
    checks.check(
        got == want,
        f"links differ from the closed-form targets: "
        f"{sum((got - want).values())} extra, {sum((want - got).values())} missing",
    )

    small = pages.filter(~F.col("large")).orderBy("page_id").limit(SAMPLE_SMALL)
    large = pages.filter(F.col("large")).orderBy("page_id").limit(SAMPLE_LARGE)
    sample = small.unionByName(large).select(
        "page_id",
        "url",
        "html",
        extract_canonical_links("html", "url").alias("links"),
        xpath_getall("html", XPATH).alias("xpath"),
        main_text("html").alias("main_text"),
    )
    for row in sample.collect():
        for kind in KINDS:
            got_k = row[kind]
            if isinstance(got_k, (list, tuple)):
                got_k = list(got_k)
            checks.check(
                got_k == in_process(kind, row["url"], row["html"]),
                f"{kind} of page {row['page_id']} differs from the in-process form",
            )
