"""Spark-layer function tests: vectorized selector UDFs vs the local
oracle (row-for-row), hash parity with the JVM, canonicalization, and
image payload invariants (PSNR / caption equality)."""

from __future__ import annotations

import re

import jmespath
import numpy as np
import pytest
from pyspark.sql import functions as F

from parsel_spark import Selector
from parsel_spark.functions.canonical import (
    canonicalize_udf,
    canonicalize_url,
    resolve_url,
)
from parsel_spark.functions.hashing import murmur3_32, xxhash64
from parsel_spark.functions.udfs import (
    attrib_map,
    css_getall,
    extract_anchors,
    extract_canonical_links,
    extract_image_pairs,
    extract_images,
    extract_rel_canonical,
    extract_sitemap,
    extract_sitemap_entries,
    extract_struct,
    jmespath_getall,
    re_extract,
    select_getall,
    xpath_getall,
)
from parsel_spark.selector import SelectorSyntaxError
from parsel_spark.selector.xpath.errors import XPathSyntaxError
from parsel_spark.sources.images import decode_image, psnr
from parsel_spark.sources.synth import SynthConfig, image_pixels, synth_pages

CFG = SynthConfig(n_pages=60, n_hosts=6, out_degree=4, seed=7, with_images=True)


@pytest.fixture(scope="module")
def pages(spark):
    df = synth_pages(spark, CFG).cache()
    df.count()
    return df


def test_css_udf_matches_local_oracle(spark, pages) -> None:
    rows = pages.select(
        "html", css_getall("html", "a::attr(href)").alias("hrefs")
    ).collect()
    assert len(rows) == CFG.n_pages
    for row in rows:
        expected = Selector(text=row["html"]).css("a::attr(href)").getall()
        assert list(row["hrefs"]) == expected


def test_xpath_udf_matches_local_oracle(spark, pages) -> None:
    query = "//p[@class='caption']/text()"
    rows = pages.select("html", xpath_getall("html", query).alias("out")).collect()
    for row in rows:
        assert list(row["out"]) == Selector(text=row["html"]).xpath(query).getall()


def test_re_and_attrib_and_jmespath_udfs(spark, pages) -> None:
    rows = pages.select(
        "html",
        re_extract("html", r'alt="([^"]+)"').alias("alts"),
        attrib_map("html", "img").alias("img_attrs"),
        css_getall("html", "script::text").alias("json_payload"),
    ).collect()
    for row in rows:
        sel = Selector(text=row["html"])
        assert list(row["alts"]) == sel.re(r'alt="([^"]+)"')
        assert dict(row["img_attrs"]) == dict(sel.css("img").attrib)

    json_df = pages.select(
        F.element_at(css_getall("html", "script::text"), 1).alias("payload")
    )
    out = json_df.select(
        jmespath_getall("payload", "image_id").alias("ids")
    ).collect()
    assert all(r["ids"] and r["ids"][0].startswith("img-") for r in out)


def test_extract_struct_single_parse(spark, pages) -> None:
    result = pages.select(
        "html",
        extract_struct(
            "html",
            {
                "links": (("css", "a::attr(href)"),),
                "caption": (("css", "p.caption::text"),),
            },
        ).alias("ex"),
    ).collect()
    for row in result:
        sel = Selector(text=row["html"])
        assert list(row["ex"]["links"]) == sel.css("a::attr(href)").getall()
        assert list(row["ex"]["caption"]) == sel.css("p.caption::text").getall()


@pytest.mark.parametrize(
    ("build", "error"),
    [
        (lambda c: extract_struct(c, {"f": (("xpath", "//["),)}), XPathSyntaxError),
        (lambda c: select_getall(c, ("re", "(")), re.error),
        (lambda c: re_extract(c, "("), re.error),
        (lambda c: jmespath_getall(c, "a["), jmespath.exceptions.ParseError),
        (lambda c: css_getall(c, "a["), SelectorSyntaxError),
        (lambda c: attrib_map(c, "a["), SelectorSyntaxError),
        (
            lambda c: extract_canonical_links(c, "url", drop_css="a["),
            SelectorSyntaxError,
        ),
    ],
    ids=["struct-xpath", "pipeline-re", "re", "jmespath", "css", "attrib", "drop"],
)
def test_bad_query_raises_on_driver(spark, request, build, error) -> None:
    """Every op kind is compiled on the driver: a bad query raises before
    any job runs instead of yielding the empty value on every row."""
    df = spark.createDataFrame(
        [("<a href='/x'>x</a>", "http://h.test/")], "html string, url string"
    )
    group = request.node.name
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(error):
            df.select(build("html")).collect()
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_null_payload_yields_type_empty_value(spark) -> None:
    """One error policy for every builder: a null payload yields the
    return type's empty value ([] / {} / a row of [] / NULL)."""
    cases = {
        "select": (select_getall("html", ("css", "a"), ("xpath", "@href")), []),
        "xpath": (xpath_getall("html", "//a/@href"), []),
        "css": (css_getall("html", "a::attr(href)"), []),
        "re": (re_extract("html", r"href='([^']+)'"), []),
        "attrib": (attrib_map("html", "a"), {}),
        "jmespath": (jmespath_getall("html", "a"), []),
        "struct": (
            extract_struct("html", {"a": (("css", "a"),), "b": (("xpath", "//b"),)}),
            {"a": [], "b": []},
        ),
        "images": (extract_images("html"), {"src": [], "alt": []}),
        "sitemap": (extract_sitemap("html"), {"page_urls": [], "sitemap_urls": []}),
        "canonical_links": (extract_canonical_links("html", "url"), []),
        "nofollow_links": (
            extract_canonical_links("html", "url", drop_css="b", respect_nofollow=True),
            [],
        ),
        "anchors": (extract_anchors("html"), []),
        "rel_canonical": (extract_rel_canonical("html", "url"), None),
        "sitemap_entries": (extract_sitemap_entries("html"), []),
        "image_pairs": (extract_image_pairs("html", "url"), []),
    }
    df = spark.createDataFrame([(None, "http://h.test/")], "html string, url string")
    row = df.select(*(col.alias(name) for name, (col, _) in cases.items())).first()
    got = {
        name: row[name].asDict() if hasattr(row[name], "asDict") else row[name]
        for name in cases
    }
    assert got == {name: empty for name, (_, empty) in cases.items()}


def test_extract_struct_isolates_failing_field(spark) -> None:
    """A field whose XPath compiles but raises while evaluating yields []
    for that field only; the other fields of the same parse keep their
    values."""
    df = spark.createDataFrame(
        [("<a href='/x'>x</a><a href='/y'>y</a>",)], "html string"
    )
    ex = df.select(
        extract_struct(
            "html",
            {
                "unknown_fn": (("xpath", "nosuchfn()"),),
                "bad_arg": (("xpath", "count(1)"),),
                "links": (("css", "a::attr(href)"),),
            },
        ).alias("ex")
    ).first()["ex"]
    assert ex.asDict() == {"unknown_fn": [], "bad_arg": [], "links": ["/x", "/y"]}


def test_attrib_map_failing_row_yields_empty_map(spark) -> None:
    """A row whose selector raises (a JSON payload has no ``css``)
    yields ``{}`` while its batch neighbours keep their attributes."""
    df = spark.createDataFrame(
        [("<a href='/x' id='1'>x</a>",), ('{"a": 1}',), ("<a href='/y'>y</a>",)],
        "html string",
    ).coalesce(1)
    got = [r["m"] for r in df.select(attrib_map("html", "a").alias("m")).collect()]
    assert got == [{"href": "/x", "id": "1"}, {}, {"href": "/y"}]


def test_row_udf_struct_rows_are_dicts(spark) -> None:
    """A struct row function returns dicts, the shape of its guarded
    empty row, so a failing row reads as a row of ``[]``.  A tuple row
    beside that empty dict fails the job instead of being misread as
    the dict's keys."""
    from pyspark.sql import types as T

    from parsel_spark.functions.rows import empty_value, guarded, row_udf

    schema = T.StructType(
        [T.StructField(n, T.ArrayType(T.StringType())) for n in ("a", "b")]
    )
    df = spark.createDataFrame([("ok",), ("bad",), ("ok2",)], "x string")
    df = df.coalesce(1)

    def as_dict(x: str) -> dict:
        if x == "bad":
            raise ValueError(x)
        return {"a": [x], "b": [x + "!"]}

    def as_tuple(x: str) -> tuple:
        return tuple(as_dict(x).values())

    rows = df.select(
        row_udf(schema, guarded(as_dict, empty_value(schema)), "x").alias("s")
    ).collect()
    assert [r["s"].asDict() for r in rows] == [
        {"a": ["ok"], "b": ["ok!"]},
        {"a": [], "b": []},
        {"a": ["ok2"], "b": ["ok2!"]},
    ]
    with pytest.raises(Exception, match="expecting a"):
        df.select(row_udf(schema, guarded(as_tuple, empty_value(schema)), "x")).collect()


def test_hash_parity_with_jvm(spark) -> None:
    samples = ["", "a", "ab", "abc", "abcd", "http://example.com/x?a=1",
               "héllo wörld ünïcode", "x" * 100, "y" * 37]
    df = spark.createDataFrame([(s,) for s in samples], ["s"])
    rows = df.select("s", F.hash("s").alias("mm"), F.xxhash64("s").alias("xx")).collect()
    for row in rows:
        assert murmur3_32(row["s"]) == row["mm"]
        assert xxhash64(row["s"]) == row["xx"]


@pytest.mark.parametrize(
    ("raw", "canonical"),
    [
        ("HTTP://Example.COM:80/a/b/../c?b=2&a=1#frag", "http://example.com/a/c?a=1&b=2"),
        ("http://example.com", "http://example.com/"),
        ("http://example.com/p%61th", "http://example.com/path"),
        ("https://example.com:443/", "https://example.com/"),
        ("http://example.com/a/./b//c", "http://example.com/a/b//c"),
        ("http://example.com/%7Euser", "http://example.com/~user"),
        # RFC 3986 §6.2.2.2: only UNRESERVED escapes decode — %2F must
        # never become a literal path '/' (distinct URLs would conflate)
        ("http://example.com/a%2Fb", "http://example.com/a%2Fb"),
        ("http://example.com/a%2fb", "http://example.com/a%2Fb"),
        # %2E-encoded dots must not become path STRUCTURE: this URL is
        # NOT the same resource as http://example.com/secret
        ("http://example.com/a/%2e%2e/secret", "http://example.com/a/%2E%2E/secret"),
        ("http://example.com/a/%2e/b", "http://example.com/a/%2E/b"),
        ("http://example.com/a/.%2e/b", "http://example.com/a/.%2E/b"),
        # ...but a dot INSIDE a segment is plain unreserved data
        ("http://example.com/file%2etxt", "http://example.com/file.txt"),
        ("http://example.com/?a=%2F&b=%61", "http://example.com/?a=%2F&b=a"),
        # an IPv6 literal host keeps its brackets (default port dropped)
        ("http://[::1]:8080/a", "http://[::1]:8080/a"),
        ("HTTP://[2001:DB8::1]:80/x", "http://[2001:db8::1]/x"),
    ],
)
def test_canonicalize_scalar(raw: str, canonical: str) -> None:
    assert canonicalize_url(raw) == canonical
    # idempotent
    assert canonicalize_url(canonical) == canonical


def test_canonicalize_udf_matches_scalar(spark) -> None:
    urls = [
        "HTTP://HOST-001.TEST/page/5",
        "http://host-001.test:80/page/5",
        "http://host-001.test/page/x/../5",
        "http://host-001.test/p%61ge/5#z",
        None,
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    rows = df.select("url", canonicalize_udf("url").alias("c")).collect()
    for row in rows:
        assert row["c"] == canonicalize_url(row["url"])


@pytest.mark.parametrize(
    "url", ["http://x.test:99999/b", "http://x.test:8x/b", "http://x.test:-1/b"]
)
def test_canonicalize_bad_port_keeps_input(url: str) -> None:
    """A port that is not an integer in 0..65535 keeps the URL in its
    input form, like a URL urlsplit rejects; it never raises."""
    assert canonicalize_url(url) == url


def test_bad_port_spares_page_links_and_udf_job(spark) -> None:
    """One bad-port href no longer blanks its page's other links, and the
    canonicalize UDF job (the crawl's seed path) succeeds on it."""
    df = spark.createDataFrame(
        [
            (
                '<a href="/a"><a href="http://x.test:99999/b"><a href="/c">',
                "http://h.test/",
            )
        ],
        "html string, url string",
    )
    row = df.select(
        extract_canonical_links("html", "url").alias("links"),
        canonicalize_udf(F.lit("http://x.test:99999/b")).alias("canon"),
    ).first()
    assert list(row["links"]) == [
        "http://h.test/a",
        "http://x.test:99999/b",
        "http://h.test/c",
    ]
    assert row["canon"] == "http://x.test:99999/b"


def test_ipv6_links_keep_a_parseable_host(spark) -> None:
    """An IPv6-literal href canonicalizes with its brackets, so the JVM's
    ``parse_url(.., 'HOST')`` (the crawl's ``host`` column) is not NULL
    and matches the oracle crawler's host."""
    assert resolve_url("http://[::1]:8080/a/", "b") == "http://[::1]:8080/a/b"
    df = spark.createDataFrame(
        [
            (
                '<a href="http://[::1]:8080/a"><a href="HTTP://[2001:DB8::1]:80/x">'
                '<a href="b">',
                "http://[::1]:8080/d/",
            )
        ],
        "html string, url string",
    )
    rows = (
        df.select(F.explode(extract_canonical_links("html", "url")).alias("link"))
        .select("link", F.parse_url("link", F.lit("HOST")).alias("host"))
        .collect()
    )
    assert [(r["link"], r["host"]) for r in rows] == [
        ("http://[::1]:8080/a", "[::1]"),
        ("http://[2001:db8::1]/x", "[2001:db8::1]"),
        ("http://[::1]:8080/d/b", "[::1]"),
    ]
    from parsel_spark.plans.oracle import _url_host

    assert all(_url_host(r["link"]) == r["host"] for r in rows)


def test_image_payload_invariants(spark, pages) -> None:
    """Input-hint invariant: decoded pixels PSNR ≥ 40 dB vs ground truth
    (lossless formats exact), captions byte-equal after extraction."""
    rows = pages.select(
        "image_id", "bytes", "w", "h", "fmt", "caption", "html",
        F.element_at(css_getall("html", "img::attr(alt)"), 1).alias("alt"),
    ).collect()
    for row in rows:
        i = int(row["image_id"].split("-")[1])
        truth = image_pixels(i, row["w"], row["h"], CFG)
        decoded = decode_image(bytes(row["bytes"]), row["fmt"])
        assert decoded.shape == truth.shape
        value = psnr(truth, decoded)
        if row["fmt"] in ("png", "bmp"):
            assert np.isinf(value)  # lossless: exact
        else:
            assert value >= 40.0
        assert row["alt"] == row["caption"]  # caption byte-equality


def test_fused_extract_drop_css_single_python_hop(spark, pages) -> None:
    """extract_canonical_links(drop_css=...) must (a) equal the unfused
    drop → serialize → reparse → select → canonicalize pipeline
    row-for-row and (b) compile to ONE ArrowEvalPython node (the fusion
    is the point: one JVM→Python round-trip per page, not three)."""
    from parsel_spark.functions.canonical import resolve_url
    from parsel_spark.functions.udfs import extract_canonical_links

    fused = pages.select(
        "url",
        extract_canonical_links("html", "url", drop_css="a:first-child").alias(
            "links"
        ),
    )
    plan = fused._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1

    got = {r["url"]: list(r["links"]) for r in fused.collect()}
    for row in pages.select("url", "html").collect():
        sel = Selector(text=row["html"])
        sel.css("a:first-child").drop()
        reparsed = Selector(text=sel.get())
        expected = [
            u
            for u in (
                resolve_url(row["url"], h)
                for h in reparsed.css("a::attr(href)").getall()
            )
            if u is not None
        ]
        assert got[row["url"]] == expected


class TestNofollowLinks:
    def _extract(self, spark, rows):
        from parsel_spark.functions.udfs import extract_canonical_links

        df = spark.createDataFrame(rows, "doc_id long, url string, html string")
        return {
            r["doc_id"]: list(r["links"])
            for r in df.select(
                "doc_id",
                extract_canonical_links(
                    "html", "url", respect_nofollow=True
                ).alias("links"),
            ).collect()
        }

    def test_rel_nofollow_tokens_dropped(self, spark) -> None:
        """nofollow matches as a token, case-insensitively, inside
        multi-token rel values; other rel values are kept."""
        rows = [(
            1, "http://h.test/p",
            '<html><body>'
            '<a href="http://x.test/a">A</a>'
            '<a rel="nofollow" href="/b">B</a>'
            '<a rel="NOFOLLOW external" href="/c">C</a>'
            '<a rel="nofollower" href="/e">E</a>'
            '<a rel="author me" href="/d">D</a>'
            '</body></html>',
        )]
        got = self._extract(spark, rows)
        assert got[1] == [
            "http://x.test/a", "http://h.test/e", "http://h.test/d",
        ]

    def test_meta_robots_nofollow_suppresses_page(self, spark) -> None:
        """<meta name=robots> containing the nofollow directive (any
        case, comma-separated) drops ALL links; a non-robots meta or a
        robots meta without nofollow does not."""
        rows = [
            (1, "http://h.test/p",
             '<html><head><meta name="ROBOTS" content="noindex, NOFOLLOW">'
             '</head><body><a href="/x">X</a></body></html>'),
            (2, "http://h.test/p",
             '<html><head><meta name="robots" content="noindex">'
             '</head><body><a href="/x">X</a></body></html>'),
            (3, "http://h.test/p",
             '<html><head><meta name="description" content="nofollow">'
             '</head><body><a href="/x">X</a></body></html>'),
        ]
        got = self._extract(spark, rows)
        assert got[1] == []
        assert got[2] == ["http://h.test/x"]
        assert got[3] == ["http://h.test/x"]

    def test_default_path_unchanged(self, spark) -> None:
        """respect_nofollow defaults OFF: the hot path keeps every
        anchor regardless of rel."""
        from parsel_spark.functions.udfs import extract_canonical_links

        rows = [(1, "http://h.test/p",
                 '<html><body><a rel="nofollow" href="/b">B</a>'
                 '</body></html>')]
        df = spark.createDataFrame(rows, "doc_id long, url string, html string")
        r = df.select(
            extract_canonical_links("html", "url").alias("links")
        ).first()
        assert list(r["links"]) == ["http://h.test/b"]


class TestSampling:
    def test_hash_sample_deterministic_and_composable(self, spark) -> None:
        """Same rows on every run / partitioning; a 10%-of-50% sample is
        exactly the 5%-rate sample (nested intervals of the SAME unit
        hash) — the reproducibility contract df.sample cannot give."""
        from parsel_spark.functions.sampling import hash_sample

        df = spark.range(2000).withColumnRenamed("id", "doc_id")
        s1 = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.2, seed=1).collect()}
        s2 = {r["doc_id"] for r in
              hash_sample(df.repartition(7), "doc_id", 0.2, seed=1).collect()}
        assert s1 == s2 and 0.1 < len(s1) / 2000 < 0.3
        s_half = {r["doc_id"] for r in hash_sample(df, "doc_id", 0.1, seed=1).collect()}
        assert s_half <= s1  # nested intervals compose

    def test_hash_sample_rate_bounds(self, spark) -> None:
        import pytest as _pytest

        from parsel_spark.functions.sampling import hash_sample

        df = spark.range(10).withColumnRenamed("id", "doc_id")
        with _pytest.raises(ValueError):
            hash_sample(df, "doc_id", 1.5)
        assert hash_sample(df, "doc_id", 0.0).count() == 0
        assert hash_sample(df, "doc_id", 1.0).count() == 10

    def test_hash_split_disjoint_exhaustive(self, spark) -> None:
        from parsel_spark.functions.sampling import hash_split

        df = spark.range(3000).withColumnRenamed("id", "doc_id")
        out = hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        counts = {r["split"]: r["n"] for r in
                  out.groupBy("split").count().withColumnRenamed("count", "n").collect()}
        assert sum(counts.values()) == 3000  # exhaustive
        assert set(counts) == {"train", "val", "test"}
        assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
        # deterministic across partitionings
        out2 = hash_split(df.repartition(5), "doc_id",
                          {"train": 0.8, "val": 0.1, "test": 0.1})
        assert ({(r["doc_id"], r["split"]) for r in out.collect()}
                == {(r["doc_id"], r["split"]) for r in out2.collect()})


class TestCapPerGroup:
    def test_cap_enforced_and_deterministic(self, spark) -> None:
        """Every group ends at min(cap, size); the kept set is identical
        across partitionings (unit-hash order + id tiebreak)."""
        from pyspark.sql import functions as F

        from parsel_spark.functions.sampling import cap_per_group

        df = spark.range(300).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 5).cast("string").alias("host"),
        )
        out = cap_per_group(df, "host", cap=7, id_col="doc_id", seed=3)
        counts = {r["host"]: r["count"] for r in
                  out.groupBy("host").count().collect()}
        assert counts == {str(h): 7 for h in range(5)}
        out2 = cap_per_group(
            df.repartition(11), "host", cap=7, id_col="doc_id", seed=3
        )
        assert ({(r["doc_id"], r["host"]) for r in out.collect()}
                == {(r["doc_id"], r["host"]) for r in out2.collect()})

    def test_under_cap_groups_pass_through(self, spark) -> None:
        from pyspark.sql import functions as F

        from parsel_spark.functions.sampling import cap_per_group

        df = spark.range(4).select(
            F.col("id").alias("doc_id"), F.lit("only").alias("host")
        )
        out = cap_per_group(df, "host", cap=10, id_col="doc_id")
        assert sorted(r["doc_id"] for r in out.collect()) == [0, 1, 2, 3]

    def test_keep_best_ordering(self, spark) -> None:
        """order_by keeps the BEST rows (quality DESC), id tiebreak."""
        from pyspark.sql import functions as F

        from parsel_spark.functions.sampling import cap_per_group

        rows = [(1, "h", 0.9), (2, "h", 0.1), (3, "h", 0.9), (4, "h", 0.5)]
        df = spark.createDataFrame(rows, "doc_id long, host string, q double")
        out = cap_per_group(
            df, "host", cap=2, id_col="doc_id",
            order_by=[F.col("q").desc()],
        )
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]

    def test_bad_cap_raises(self, spark) -> None:
        import pytest as _pytest

        from parsel_spark.functions.sampling import cap_per_group

        df = spark.range(3).withColumnRenamed("id", "doc_id")
        with _pytest.raises(ValueError):
            cap_per_group(df.withColumn("host", df.doc_id % 2),
                          "host", cap=0, id_col="doc_id")


class TestRedactPII:
    def test_redacts_planted_pii(self, spark) -> None:
        from parsel_spark.functions.textstats import redact_pii

        rows = [
            (1, "mail me at john.doe+x@sub.example.org today"),
            (2, "server 192.168.0.1 rebooted"),
            (3, "call +1 555 123 4567 now"),
            (4, "clean text with nothing to hide"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["c"] for r in
               df.select("doc_id", redact_pii("text").alias("c")).collect()}
        assert got[1] == "mail me at <EMAIL> today"
        assert got[2] == "server <IP> rebooted"
        assert got[3] == "call <PHONE> now"
        assert got[4] == rows[3][1]


class TestStrataSampling:
    def test_per_stratum_rates_and_nesting(self, spark) -> None:
        from parsel_spark.functions.sampling import hash_sample, hash_sample_strata

        rows = [(i, "keep" if i % 2 else "thin") for i in range(2000)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = hash_sample_strata(
            df, "doc_id", "source", {"keep": 1.0, "thin": 0.1}, seed=4
        )
        got = out.groupBy("source").count().collect()
        counts = {r["source"]: r["count"] for r in got}
        assert counts["keep"] == 1000  # rate 1.0 keeps everything
        assert 20 < counts.get("thin", 0) < 300
        # nesting: the thin stratum's rows are exactly the flat 0.1
        # sample of that stratum (same unit hash)
        thin_flat = {
            r["doc_id"]
            for r in hash_sample(
                df.filter("source = 'thin'"), "doc_id", 0.1, seed=4
            ).collect()
        }
        thin_strata = {
            r["doc_id"] for r in out.filter("source = 'thin'").collect()
        }
        assert thin_flat == thin_strata

    def test_default_rate_zero_drops_unknown(self, spark) -> None:
        from parsel_spark.functions.sampling import hash_sample_strata

        df = spark.createDataFrame(
            [(1, "a"), (2, "b")], "doc_id long, source string"
        )
        out = hash_sample_strata(df, "doc_id", "source", {"a": 1.0})
        assert [r["doc_id"] for r in out.collect()] == [1]


class TestPackSequences:
    def test_chunk_semantics_exact(self, spark) -> None:
        """Manual replay on one shard: offsets are the running token
        total mod budget; seq_id increments when a doc STARTS past a
        budget boundary."""
        from pyspark.sql import functions as F

        from parsel_spark.operators.packing import pack_sequences

        rows = [(i, "w " * 40) for i in range(50)]  # 40 tokens each
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = pack_sequences(df, token_budget=100, n_shards=4, seed=2)
        rows_out = out.orderBy("shard", "doc_id").collect()
        # replay per shard in python
        from collections import defaultdict

        cum = defaultdict(int)
        for r in rows_out:
            start = cum[r["shard"]]
            assert r["n_tokens"] == 40
            assert r["seq_id"] == start // 100, r
            assert r["offset"] == start % 100, r
            cum[r["shard"]] += 40

    def test_deterministic_across_partitionings(self, spark) -> None:
        from parsel_spark.operators.packing import pack_sequences

        rows = [(i, "tok " * (1 + i % 17)) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = {tuple(r) for r in pack_sequences(df, 64, n_shards=8).collect()}
        b = {
            tuple(r)
            for r in pack_sequences(df.repartition(13), 64, n_shards=8).collect()
        }
        assert a == b

    def test_budget_validation(self, spark) -> None:
        import pytest as _pytest

        from parsel_spark.operators.packing import pack_sequences

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            pack_sequences(df, 0)


class TestBpeTokenCount:
    def test_hand_counted_examples(self, spark) -> None:
        """BPE-ish pre-split: contractions split, space-prefixed word /
        digit / punctuation runs count separately — hand-verified."""
        from parsel_spark.functions.textstats import bpe_token_count

        rows = [
            # "it" "'s" " a" " café" " —" " naïve" "!" → 7
            (1, "it's a café — naïve!", 7),
            # "Q" "&" "A" " 123" " cumpleaños" → 5
            (2, "Q&A 123 cumpleaños", 5),
            # '"' "quoted" '"' "  " (ws run) "x" → 5
            (3, '"quoted"  x', 5),
            (4, "", 0),
            # "word" → 1
            (5, "word", 1),
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t, _ in rows], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: r["n"]
            for r in df.select(
                "doc_id", bpe_token_count().alias("n")
            ).collect()
        }
        assert got == {i: n for i, _, n in rows}


class TestPackGreedy:
    def test_never_straddles_and_next_fit(self, spark) -> None:
        """Docs never straddle: offset + n_tokens <= budget whenever the
        doc fits at all; a doc that does not fit the open row opens a
        new one; an over-budget doc sits alone at offset 0."""
        from parsel_spark.operators.packing import pack_sequences_greedy

        rows = [
            (1, "w " * 60),   # 60
            (2, "w " * 60),   # 60 -> fits (120)
            (3, "w " * 50),   # would make 170 > 128 -> new row
            (4, "w " * 200),  # over budget -> new row alone
            (5, "w " * 10),   # after the giant -> new row
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: (r["shard"], r["seq_id"], r["offset"], r["n_tokens"])
            for r in pack_sequences_greedy(
                df, token_budget=128, n_shards=1, seed=0
            ).collect()
        }
        assert out[1][1:3] == (0, 0)
        assert out[2][1:3] == (0, 60)
        assert out[3][1:3] == (1, 0)
        assert out[4][1:3] == (2, 0)
        assert out[5][1:3] == (3, 0)
        for _sh, _seq, off, n in out.values():
            assert n > 128 or off + n <= 128  # never straddles

    def test_deterministic_across_partitionings(self, spark) -> None:
        from parsel_spark.operators.packing import pack_sequences_greedy

        rows = [(i, "t " * (1 + (i * 11) % 19)) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = {tuple(r) for r in pack_sequences_greedy(df, 64, n_shards=8).collect()}
        b = {
            tuple(r)
            for r in pack_sequences_greedy(
                df.repartition(11), 64, n_shards=8
            ).collect()
        }
        assert a == b

    def test_string_doc_ids(self, spark) -> None:
        """The applyInPandas output schema derives the id type from the
        input — string doc ids (supported by unit_hash and the
        concat-and-chunk variant) must work here too."""
        from parsel_spark.operators.packing import pack_sequences_greedy

        rows = [(f"doc-{i}", "w " * (5 + i)) for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id string, text string")
        got = pack_sequences_greedy(df, 32, n_shards=2).collect()
        assert len(got) == 20
        assert {type(r["doc_id"]) for r in got} == {str}
        for r in got:
            assert r["n_tokens"] > 32 or r["offset"] + r["n_tokens"] <= 32


class TestXpathUdfNamespaces:
    def test_exslt_str_through_vectorized_udf(self, spark) -> None:
        """The opt-in EXSLT namespaces flow through the distributed
        layer: xpath_getall(..., namespaces=...) evaluates str:tokenize
        inside the pandas UDF."""
        from parsel_spark.functions.udfs import xpath_getall

        df = spark.createDataFrame(
            [(1, "<r><v>a-b-c</v></r>",)], "id long, xml string"
        )
        got = df.select(
            xpath_getall(
                "xml",
                "str:tokenize(string(//v), '-')/text()",
                type="xml",
                namespaces={"str": "http://exslt.org/strings"},
            ).alias("toks")
        ).collect()[0]["toks"]
        assert got == ["a", "b", "c"]


def test_pack_by_bpe_tokens(spark) -> None:
    """pack_sequences accepts any integer tokens_col — packing by the
    BPE-ish counter changes budgets exactly as the counts differ."""
    from parsel_spark.functions.textstats import bpe_token_count
    from parsel_spark.operators.packing import pack_sequences

    rows = [(i, "it's a café!") for i in range(20)]  # ws=3, bpe=5
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ws = pack_sequences(df, token_budget=12, n_shards=1).collect()
    bpe = pack_sequences(
        df, token_budget=12, n_shards=1,
        tokens_col=bpe_token_count().cast("long"),
    ).collect()
    assert all(r["n_tokens"] == 3 for r in ws)
    assert all(r["n_tokens"] == 5 for r in bpe)
    # concat-and-chunk assigns by START offset: last doc starts at
    # 19*3=57 (ws) / 19*5=95 (bpe); budget 12
    assert max(r["seq_id"] for r in ws) == 57 // 12   # 4
    assert max(r["seq_id"] for r in bpe) == 95 // 12  # 7


class TestSitemapExtract:
    def test_urlset_and_index_split(self, spark) -> None:
        """Page locs and nested-index locs split into the right struct
        fields; namespace present, absent or re-prefixed all parse."""
        from parsel_spark.functions.udfs import extract_sitemap

        ns = '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' \
             "<url><loc>http://a.test/1</loc></url>" \
             "<url><loc>http://a.test/2</loc></url></urlset>"
        bare = "<urlset><url><loc>http://b.test/1</loc></url></urlset>"
        prefixed = (
            '<s:urlset xmlns:s="http://www.sitemaps.org/schemas/sitemap/0.9">'
            "<s:url><s:loc>http://c.test/1</s:loc></s:url></s:urlset>"
        )
        index = (
            '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            "<sitemap><loc>http://a.test/sitemap-2.xml</loc></sitemap>"
            "</sitemapindex>"
        )
        df = spark.createDataFrame(
            [(1, ns), (2, bare), (3, prefixed), (4, index), (5, None)],
            "id long, xml string",
        )
        got = {
            r["id"]: (r["s"]["page_urls"], r["s"]["sitemap_urls"])
            for r in df.select(
                "id", extract_sitemap("xml").alias("s")
            ).collect()
        }
        assert got[1] == (["http://a.test/1", "http://a.test/2"], [])
        assert got[2] == (["http://b.test/1"], [])
        assert got[3] == (["http://c.test/1"], [])
        assert got[4] == ([], ["http://a.test/sitemap-2.xml"])
        assert got[5] == ([], [])


class TestExtractAnchors:
    def test_pairs_order_nested_markup_and_nulls(self, spark) -> None:
        from parsel_spark.functions.udfs import extract_anchors

        html = (
            '<body><a href="/1">one <b>bold</b> link</a>'
            "<a>no href here</a>"
            '<a href="/2">  spaced\n text </a>'
            '<a href="/3"></a></body>'
        )
        df = spark.createDataFrame(
            [(1, html), (2, None), (3, "no anchors at all")],
            "id long, html string",
        )
        got = {
            r["id"]: [(a["href"], a["text"]) for a in r["a"]]
            for r in df.select(
                "id", extract_anchors("html").alias("a")
            ).collect()
        }
        assert got[1] == [
            ("/1", "one bold link"),
            (None, "no href here"),
            ("/2", "spaced text"),
            ("/3", ""),
        ]
        assert got[2] == []
        assert got[3] == []


class TestMixturePlanning:
    def test_rollup_and_rates(self, spark) -> None:
        from parsel_spark.functions.sampling import (
            mixture_sampling_rates,
            source_mixture,
        )
        from pyspark.sql import functions as F

        rows = (
            [(f"a{i}", "srcA", "w " * 100) for i in range(10)]   # 10 docs
            + [(f"b{i}", "srcB", "w " * 100) for i in range(2)]  # small src
        )
        docs = spark.createDataFrame(rows, "doc_id string, source string, text string")
        mix = source_mixture(docs, tokens_col=F.lit(100).cast("long"))
        got = {r["source"]: r for r in mix.collect()}
        assert got["srcA"]["n_docs"] == 10 and got["srcA"]["total_tokens"] == 1000
        assert got["srcB"]["token_share"] == round(200 / 1200, 6)

        plan = {
            r["source"]: r
            for r in mixture_sampling_rates(
                mix, {"srcA": 1.0, "srcB": 1.0}, token_budget=1000
            ).collect()
        }
        # srcA: target 500 of 1000 -> rate 0.5; srcB: target 500 of 200
        # -> clamp at 1.0 with a REPORTED shortfall of 300
        assert plan["srcA"]["rate"] == 0.5 and plan["srcA"]["shortfall"] == 0
        assert plan["srcB"]["rate"] == 1.0
        assert plan["srcB"]["expected_tokens"] == 200
        assert plan["srcB"]["shortfall"] == 300

    def test_bad_inputs_raise(self, spark) -> None:
        import pytest as _pytest

        from parsel_spark.functions.sampling import mixture_sampling_rates

        mix = spark.createDataFrame(
            [("s", 10, 100, 1.0)],
            "source string, n_docs long, total_tokens long, token_share double",
        )
        with _pytest.raises(ValueError):
            mixture_sampling_rates(mix, {"s": 1.0}, token_budget=0)
        with _pytest.raises(ValueError):
            mixture_sampling_rates(mix, {"s": 0.0}, token_budget=10)


class TestCharGramCoverage:
    def test_gibberish_scores_below_clean(self, spark) -> None:
        """Docs sharing natural trigrams score 1.0; a doc whose text is
        unique-by-construction scores 0; a mixed doc lands between."""
        from parsel_spark.functions.textstats import char_gram_coverage

        rows = [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the hat"),
            (3, "qzQ17xjW93vqK5"),
            (4, "the cat qzW7vK"),
            (5, "ab"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in
               char_gram_coverage(df, "text", "doc_id").collect()}
        assert got[1]["coverage"] >= 0.85
        assert got[2]["coverage"] >= 0.85
        assert got[3]["coverage"] == 0.0
        assert 0.0 < got[4]["coverage"] < got[1]["coverage"]
        assert got[5]["n_grams"] == 0 and got[5]["coverage"] is None

    def test_counts_exact_on_tiny_corpus(self, spark) -> None:
        """Hand-counted: 'aaaa' x2 docs -> grams ['aaa','aaa'] each,
        df(aaa)=2 >= 2 -> coverage 1.0 with n_grams=2."""
        from parsel_spark.functions.textstats import char_gram_coverage

        df = spark.createDataFrame(
            [(1, "aaaa"), (2, "aaaa")], "doc_id long, text string"
        )
        got = {r["doc_id"]: r for r in
               char_gram_coverage(df, "text", "doc_id").collect()}
        for i in (1, 2):
            assert got[i]["n_grams"] == 2
            assert got[i]["n_common"] == 2
            assert got[i]["coverage"] == 1.0


class TestChunkWindows:
    def test_overlapping_windows(self, spark) -> None:
        from parsel_spark.operators.packing import chunk_windows

        text = " ".join(f"t{i}" for i in range(10))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = sorted(
            chunk_windows(df, window=4, stride=3).collect(),
            key=lambda r: r["window_id"],
        )
        got = [
            (r["window_id"], r["start_tok"], r["end_tok"], r["window_text"])
            for r in rows
        ]
        assert got == [
            (0, 0, 4, "t0 t1 t2 t3"),
            (1, 3, 7, "t3 t4 t5 t6"),
            (2, 6, 10, "t6 t7 t8 t9"),
            (3, 9, 10, "t9"),
        ]
        assert all(r["n_window_tokens"] == r["end_tok"] - r["start_tok"]
                   for r in rows)

    def test_short_doc_single_window(self, spark) -> None:
        from parsel_spark.operators.packing import chunk_windows

        df = spark.createDataFrame(
            [(1, "a b c")], "doc_id long, text string"
        )
        rows = chunk_windows(df, window=10, stride=8).collect()
        assert len(rows) == 1
        assert rows[0]["window_text"] == "a b c"
        assert rows[0]["n_window_tokens"] == 3

    def test_gap_stride_allowed(self, spark) -> None:
        from parsel_spark.operators.packing import chunk_windows

        text = " ".join(f"t{i}" for i in range(10))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = sorted(
            chunk_windows(df, window=2, stride=5).collect(),
            key=lambda r: r["window_id"],
        )
        assert [(r["start_tok"], r["end_tok"]) for r in rows] == [
            (0, 2), (5, 7)
        ]

    def test_bad_args_raise(self, spark) -> None:
        import pytest as _pytest

        from parsel_spark.operators.packing import chunk_windows

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            chunk_windows(df, window=0, stride=1)
        with _pytest.raises(ValueError):
            chunk_windows(df, window=4, stride=0)


class TestC4QualityFlags:
    def _run(self, spark, text, min_sentences=2):
        from parsel_spark.functions.textstats import c4_quality_flags

        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        return c4_quality_flags(df, min_sentences=min_sentences).collect()[0]

    def test_line_rules(self, spark) -> None:
        text = "\n".join(
            [
                "A good first sentence.",
                "Home About Contact",          # no terminal punct
                "Please enable JavaScript to continue.",  # js mention
                "Does it keep questions?",
                'He said "stop."',
            ]
        )
        row = self._run(spark, text)
        assert row["clean_text"] == (
            'A good first sentence.\nDoes it keep questions?\nHe said "stop."'
        )
        assert row["n_lines_kept"] == 3
        assert row["n_sentences"] == 3
        assert row["keep"] is True

    def test_brace_and_lorem_poison_page(self, spark) -> None:
        row = self._run(spark, "Fine sentence one.\nvar x = { a: 1 };")
        assert row["has_brace"] is True and row["keep"] is False
        row = self._run(spark, "Lorem Ipsum dolor sit amet.\nMore text here.")
        assert row["has_lorem"] is True and row["keep"] is False

    def test_sentence_floor(self, spark) -> None:
        row = self._run(spark, "Only one sentence here.", min_sentences=2)
        assert row["n_sentences"] == 1 and row["keep"] is False
        row = self._run(spark, "One here. Two here.", min_sentences=2)
        assert row["n_sentences"] == 2 and row["keep"] is True

    def test_bad_min_sentences(self, spark) -> None:
        import pytest as _pytest

        from parsel_spark.functions.textstats import c4_quality_flags

        df = spark.createDataFrame([(1, "x.")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            c4_quality_flags(df, min_sentences=0)


class TestVocabTopk:
    def test_counts_and_rank(self, spark) -> None:
        from parsel_spark.functions.textstats import vocab_topk

        df = spark.createDataFrame(
            [(1, "the cat and the hat"), (2, "THE cat sat")],
            "doc_id long, text string",
        )
        rows = {r["word"]: r for r in vocab_topk(df, k=3).collect()}
        assert rows["the"]["n_occurrences"] == 3
        assert rows["the"]["n_docs"] == 2
        assert rows["the"]["rank"] == 1
        assert rows["cat"]["n_occurrences"] == 2
        assert rows["cat"]["rank"] == 2
        # tie between 'and'/'hat'/'sat' (1 each) -> word ASC tiebreak
        assert rows["and"]["rank"] == 3 and len(rows) == 3

    def test_bad_k(self, spark) -> None:
        import pytest as _pytest

        from parsel_spark.functions.textstats import vocab_topk

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            vocab_topk(df, k=0)


class TestSitemapEntries:
    XML = (
        '<?xml version="1.0"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        "<url><loc>http://a.test/p1</loc>"
        "<lastmod>2024-06-01</lastmod>"
        "<changefreq>daily</changefreq><priority>0.8</priority></url>"
        "<url><loc> http://a.test/p2 </loc></url>"
        "<url><lastmod>2024-01-01</lastmod></url>"          # no loc: skip
        "<url><loc>http://a.test/p3</loc>"
        "<priority>not-a-number</priority></url>"
        "</urlset>"
    )

    def test_entries_full_and_partial(self, spark) -> None:
        from parsel_spark.functions.udfs import extract_sitemap_entries

        df = spark.createDataFrame([(self.XML,)], "xml string")
        (row,) = df.select(
            extract_sitemap_entries("xml").alias("e")
        ).collect()
        e = row["e"]
        assert len(e) == 3
        assert e[0]["loc"] == "http://a.test/p1"
        assert e[0]["lastmod"] == "2024-06-01"
        assert e[0]["changefreq"] == "daily"
        assert e[0]["priority"] == 0.8
        assert e[1]["loc"] == "http://a.test/p2"
        assert e[1]["lastmod"] is None
        assert e[2]["priority"] is None  # malformed priority -> NULL

    def test_namespace_absent_and_reprefixed(self, spark) -> None:
        from parsel_spark.functions.udfs import extract_sitemap_entries

        plain = "<urlset><url><loc>http://b.test/x</loc></url></urlset>"
        pref = (
            '<s:urlset xmlns:s="http://www.sitemaps.org/schemas/sitemap/0.9">'
            "<s:url><s:loc>http://c.test/y</s:loc>"
            "<s:lastmod>2023-12-31</s:lastmod></s:url></s:urlset>"
        )
        df = spark.createDataFrame([(plain,), (pref,)], "xml string")
        rows = [
            r["e"]
            for r in df.select(
                extract_sitemap_entries("xml").alias("e")
            ).collect()
        ]
        locs = {e[0]["loc"] for e in rows}
        assert locs == {"http://b.test/x", "http://c.test/y"}


class TestTfidfKeywords:
    def test_rare_word_beats_common(self, spark) -> None:
        import math as _math

        from parsel_spark.functions.textstats import tfidf_keywords

        df = spark.createDataFrame(
            [
                (1, "the cat sat zebra zebra"),
                (2, "the dog ran"),
                (3, "the bird flew"),
            ],
            "doc_id long, text string",
        )
        rows = [
            r
            for r in tfidf_keywords(df, k=1).collect()
        ]
        by_doc = {r["doc_id"]: r for r in rows}
        # 'zebra': tf=2, df=1 -> 2*ln(3); beats everything in doc 1
        assert by_doc[1]["word"] == "zebra"
        assert _math.isclose(
            by_doc[1]["score"], round(2 * _math.log(3.0), 9)
        )
        # 'the' appears in all docs -> score exactly 0, never a top word
        assert all(r["word"] != "the" for r in rows)

    def test_tie_breaks_and_k(self, spark) -> None:
        from parsel_spark.functions.textstats import tfidf_keywords

        df = spark.createDataFrame(
            [(1, "bb aa"), (2, "cc")], "doc_id long, text string"
        )
        rows = sorted(
            (r["doc_id"], r["rank"], r["word"])
            for r in tfidf_keywords(df, k=2).collect()
        )
        # aa/bb tie on score -> word ASC
        assert rows == [(1, 1, "aa"), (1, 2, "bb"), (2, 1, "cc")]

    def test_bad_k(self, spark) -> None:
        import pytest as _pytest

        from parsel_spark.functions.textstats import tfidf_keywords

        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        with _pytest.raises(ValueError):
            tfidf_keywords(df, k=0)


class TestBigramLogprob:
    def test_hand_computed_small_corpus(self, spark) -> None:
        import math as _math

        from parsel_spark.functions.textstats import bigram_logprob

        df = spark.createDataFrame(
            [(1, "a b a b"), (2, "a b")], "doc_id long, text string"
        )
        # unigrams: a:3 b:3, V=2; bigrams: (a,b):3, (b,a):1
        got = {
            r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
            for r in bigram_logprob(df).collect()
        }
        lp_ab = _math.log((3 + 1) / (3 + 2))
        lp_ba = _math.log((1 + 1) / (3 + 2))
        want1 = round((2 * lp_ab + lp_ba) / 3, 9)
        assert got[1][0] == 3
        assert _math.isclose(got[1][1], want1, rel_tol=1e-12)
        assert got[2] == (1, round(lp_ab, 9))

    def test_gibberish_scores_lower(self, spark) -> None:
        from parsel_spark.functions.textstats import bigram_logprob

        rows = [(i, "the quick brown fox jumps over the lazy dog")
                for i in range(20)]
        rows.append((99, "dog the over fox quick lazy jumps brown the"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r["avg_logprob"]
               for r in bigram_logprob(df).collect()}
        assert got[99] < got[0]

    def test_single_token_doc(self, spark) -> None:
        from parsel_spark.functions.textstats import bigram_logprob

        df = spark.createDataFrame(
            [(1, "lonely"), (2, "two words")], "doc_id long, text string"
        )
        got = {r["doc_id"]: (r["n_bigrams"], r["avg_logprob"])
               for r in bigram_logprob(df).collect()}
        assert got[1] == (0, None)
        assert got[2][0] == 1


class TestImagePairMining:
    def test_og_and_alt_pairs(self, spark) -> None:
        from pyspark.sql import functions as F

        from parsel_spark.functions.udfs import extract_image_pairs

        html = (
            "<html><head>"
            '<meta property="og:image" content="/hero.JPG">'
            '<meta property="og:title" content=" The  Hero ">'
            '<meta property="og:description" content="fallback">'
            "</head><body>"
            '<img src="HTTP://A.TEST/x/../a.png" alt="first alt">'
            '<img src="/b.png" alt="   ">'       # blank alt dropped
            '<img src="/c.png">'                 # no alt dropped
            "</body></html>"
        )
        df = spark.createDataFrame(
            [("http://a.test/page", html)], "url string, html string"
        )
        (row,) = df.select(
            extract_image_pairs("html", "url").alias("p")
        ).collect()
        pairs = [(p["image_url"], p["caption"], p["source"]) for p in row["p"]]
        assert pairs == [
            ("http://a.test/hero.JPG", "The  Hero", "og"),
            ("http://a.test/a.png", "first alt", "alt"),
        ]

    def test_og_description_fallback_and_no_pairs(self, spark) -> None:
        from parsel_spark.functions.udfs import extract_image_pairs

        html = (
            '<meta property="og:image" content="/i.png">'
            '<meta property="og:description" content="desc only">'
        )
        df = spark.createDataFrame(
            [("http://a.test/", html), ("http://a.test/2", "<p>none</p>")],
            "url string, html string",
        )
        rows = {r["url"]: r["p"] for r in df.select(
            "url", extract_image_pairs("html", "url").alias("p")
        ).collect()}
        assert rows["http://a.test/"][0]["caption"] == "desc only"
        assert rows["http://a.test/2"] == []


class TestIdnCanonicalization:
    def test_unicode_host_becomes_punycode(self) -> None:
        from parsel_spark.functions.canonical import canonicalize_url

        # RFC 3490 ToASCII: one crawl identity for both spellings
        assert (
            canonicalize_url("http://münchen.example/straße")
            == "http://xn--mnchen-3ya.example/stra%C3%9Fe"
        )
        assert (
            canonicalize_url("HTTP://MÜNCHEN.example:80/a")
            == "http://xn--mnchen-3ya.example/a"
        )
        # already-punycode and plain-ascii hosts unchanged
        assert (
            canonicalize_url("http://xn--mnchen-3ya.example/a")
            == "http://xn--mnchen-3ya.example/a"
        )
        assert (
            canonicalize_url("http://plain.example/ok")
            == "http://plain.example/ok"
        )

    def test_malformed_idn_label_recovers(self) -> None:
        from parsel_spark.functions.canonical import canonicalize_url

        # an overlong label the idna codec refuses: keep input form,
        # never raise (recovering contract)
        bad = "http://" + "ü" * 80 + ".example/x"
        out = canonicalize_url(bad)
        assert out is not None and out.endswith(".example/x")


def test_row_builders_null_and_hostile_rows(spark) -> None:
    """Every per-row builder outside the selector layer on a NULL row, a
    hostile row and a plain row: each agrees with its pure-Python twin,
    and the image builders keep their documented failure values
    (``decode_ok=False`` with zeros, hash ``0``, resize NULL)."""
    import unicodedata

    from parsel_spark.functions.canonical import resolve_udf, resolve_url
    from parsel_spark.functions.maintext import main_text, main_text_str
    from parsel_spark.functions.markdown import html_to_markdown, to_markdown
    from parsel_spark.functions.robots import (
        parse_robots_txt,
        parse_sitemap_urls,
        robots_rules,
        robots_sitemaps,
    )
    from parsel_spark.functions.unicodenorm import nfc, nfkc
    from parsel_spark.operators.multimodal import (
        audio_features,
        image_stats,
        perceptual_hash,
        resize_image,
    )
    from parsel_spark.sources.images import encode_image

    pixels = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    rows = [
        (0, None, None, None, None, None, None, "png"),
        (
            1,
            "<<p>></td>&#xZZ;<a href=",
            "http://[::1/x",
            "http://[::1",
            "",
            "e\u0301 \ufb01",
            b"\x89PNG not an image",
            "png",
        ),
        (
            2,
            "<h1>T</h1><p>x <a href='/y'>y</a></p><nav><a href='/n'>n</a></nav>",
            "HTTP://H.test:80/a/../b#f",
            "../c?b=2&a=1",
            "User-agent: *\nDisallow: /x\nCrawl-delay: 2\n"
            "Sitemap: http://h.test/s.xml",
            "Cafe\u0301",
            encode_image(pixels, "png"),
            "png",
        ),
    ]
    df = spark.createDataFrame(
        rows,
        "id int, html string, url string, href string, robots string, "
        "text string, img binary, fmt string",
    )
    got = {
        r["id"]: r
        for r in df.select(
            "*",
            html_to_markdown("html").alias("md"),
            main_text("html").alias("mt"),
            canonicalize_udf("url").alias("canon"),
            resolve_udf("url", "href").alias("resolved"),
            robots_rules("robots").alias("rules"),
            robots_sitemaps("robots").alias("sitemaps"),
            nfc("text").alias("nfc"),
            nfkc("text").alias("nfkc"),
            image_stats("img", "fmt").alias("stats"),
            perceptual_hash("img", "fmt").alias("phash"),
            resize_image("img", "fmt", 2, 3).alias("small"),
        ).collect()
    }
    assert sorted(got) == [0, 1, 2]
    for r in got.values():
        assert r["md"] == to_markdown(r["html"])
        assert r["mt"] == main_text_str(r["html"])
        assert r["canon"] == canonicalize_url(r["url"])
        assert r["resolved"] == resolve_url(r["url"], r["href"])
        assert r["rules"].asDict() == parse_robots_txt(r["robots"])
        assert list(r["sitemaps"]) == parse_sitemap_urls(r["robots"])
        for form in ("NFC", "NFKC"):
            text = r["text"]
            want = None if text is None else unicodedata.normalize(form, text)
            assert r[form.lower()] == want
    failed = {
        "width": 0, "height": 0, "mean_r": 0.0, "mean_g": 0.0,
        "mean_b": 0.0, "std_gray": 0.0, "decode_ok": False,
    }
    for i in (0, 1):
        assert got[i]["stats"].asDict() == failed
        assert got[i]["phash"] == 0
        assert got[i]["small"] is None
    stats = got[2]["stats"]
    assert stats["decode_ok"] and (stats["width"], stats["height"]) == (6, 4)
    assert stats["mean_r"] == pytest.approx(float(pixels[..., 0].mean()))
    assert decode_image(bytes(got[2]["small"]), "png").shape == (2, 3, 3)
    assert got[1]["md"] != "" and got[2]["canon"] == "http://h.test/b"

    # audio has no guard: empty and odd-length PCM read as silence, and
    # a NULL payload fails the job rather than reading as silence
    audio = spark.createDataFrame([(b"",), (b"\x01",), (None,)], "pcm binary")
    silent = audio.where("pcm IS NOT NULL").select(
        audio_features("pcm").alias("a")
    )
    assert [r["a"].asDict() for r in silent.collect()] == [
        {"n_samples": 0, "rms": 0.0, "peak": 0.0}
    ] * 2
    with pytest.raises(Exception, match="NoneType"):
        audio.where("pcm IS NULL").select(audio_features("pcm")).collect()
