"""Vectorized selector UDFs — the Spark face of the selector core.

Design (SURVEY.md §3.3, §4.2):

* all row processing flows through Arrow-batched ``arrow_udf`` — never
  row-at-a-time Python UDFs (driver mandate: "no per-row Python" at the
  API boundary).  Every builder here is a per-page function handed to
  :func:`_per_page`, which parses each payload once and runs on the
  engine's one Arrow row runner, :func:`.rows.row_udf`;
* one error policy: a null payload, a parse failure or an exception in
  the per-page function yields the return type's empty value — ``[]``
  for arrays, ``{}`` for maps, a row of ``[]`` per field for structs,
  NULL otherwise — which reads exactly like "no match".
  :func:`extract_struct` applies the policy per field, so one failing
  pipeline does not blank its siblings;
* every query is compiled on the driver before any job is submitted
  (:func:`_validate`): ``css`` (CSS→XPath), ``xpath``, ``re`` and
  ``jmespath`` ops all raise there, instead of returning the empty value
  on every row.  Only the query *string* ships in the UDF closure; the
  selector core memoizes translation and compilation per worker process;
* chained queries (``css().xpath().re()``) are composed on the driver
  into a single pipeline spec executed in one UDF pass, so each document
  is parsed exactly once per stage (the reference re-uses one lxml tree
  per ``Selector`` the same way, parsel/selector.py:562-623).

At 100 TB scale the html payload column never shuffles: these UDFs run
map-side against the parquet scan and only their (much smaller) string
array results flow downstream.
"""

from __future__ import annotations

import re
from typing import Any, Callable, Iterable

from pyspark.sql import Column
from pyspark.sql import types as T

from ..selector import Selector
from ..selector.css import translator_for
from ..selector.xpath.parser import compile_xpath
from .canonical import resolve_url
from .rows import empty_value, guarded, row_udf

_STRINGS = T.ArrayType(T.StringType())

_SITEMAP_URLS = "//*[local-name()='urlset']/*[local-name()='url']"

# ---------------------------------------------------------------------------
# pipeline spec: a tuple of ops, each ("xpath"|"css"|"jmespath"|"re", arg)
# terminated implicitly by the extraction mode of the calling helper.
# ---------------------------------------------------------------------------


def compile_css(query: str, type_: str = "html") -> str:
    """Driver-side CSS→XPath translation (fails fast on bad queries)."""
    return translator_for(type_).css_to_xpath(query)


def _validate(ops: Iterable[tuple], doc_type: str | None = None) -> None:
    """Compile every op of a pipeline on the driver, so a bad query
    raises before any job runs."""
    for kind, arg in ops:
        if kind == "css":
            compile_css(arg, doc_type or "html")
        elif kind == "xpath":
            compile_xpath(arg)
        elif kind == "re":
            re.compile(arg)
        elif kind == "jmespath":
            import jmespath

            jmespath.compile(arg)
        else:
            raise ValueError(f"unknown pipeline op {kind}")


def _run_pipeline(
    sel: Selector, ops: tuple, namespaces: dict | None = None
) -> Any:
    result: Any = sel
    for kind, arg in ops:
        if kind == "xpath":
            result = result.xpath(arg, namespaces=namespaces)
        elif kind == "css":
            result = result.css(arg)
        elif kind == "jmespath":
            result = result.jmespath(arg)
        else:  # "re" is terminal
            return result.re(arg)
    return result


def _getall(sel: Selector, ops: tuple, namespaces: dict | None = None) -> list[str]:
    """``getall()`` of a pipeline, stringified.  A ``SelectorList`` and the
    ``list[str]`` of a ``.re()`` terminal both iterate to values whose
    ``str()`` is the ``getall()`` item."""
    return [str(v) for v in _run_pipeline(sel, ops, namespaces)]


def _per_page(
    return_type: T.DataType,
    doc_type: str | None,
    fn: Callable[..., Any],
    *columns: Column | str,
) -> Column:
    """The selector layer's row function for :func:`~.rows.row_udf`: for
    each row, ``fn(Selector(text=payload, type=doc_type), *extra)``,
    where ``payload`` comes from the first column and ``extra`` from the
    others.  A null payload, a parse failure or an exception in ``fn``
    yields ``empty_value(return_type)``."""
    empty = empty_value(return_type)

    def page(payload: Any, *extra: Any) -> Any:
        if payload is None:
            return empty
        return fn(Selector(text=payload, type=doc_type), *extra)

    return row_udf(return_type, guarded(page, empty), *columns)


def select_getall(
    column: Column | str,
    *ops: tuple,
    type: str | None = None,
    namespaces: dict | None = None,
) -> Column:
    """``ARRAY<STRING>`` of ``getall()`` results after running the op
    pipeline against each document; one parse per row.  ``namespaces``
    maps extra prefixes for the xpath ops (e.g. the EXSLT ``str:`` /
    ``math:`` namespaces, which are opt-in — reference parity)."""
    _validate(ops, type)
    return _per_page(
        _STRINGS, type, lambda sel: _getall(sel, ops, namespaces), column
    )


def xpath_getall(
    column: Column | str,
    query: str,
    type: str | None = None,
    namespaces: dict | None = None,
) -> Column:
    """Vectorized ``Selector(html).xpath(query).getall()``."""
    return select_getall(column, ("xpath", query), type=type, namespaces=namespaces)


def css_getall(column: Column | str, query: str, type: str | None = None) -> Column:
    """Vectorized ``Selector(html).css(query).getall()``."""
    return select_getall(column, ("css", query), type=type)


def re_extract(
    column: Column | str, pattern: str, replace_entities: bool = True
) -> Column:
    """Vectorized ``Selector(html).re(pattern)`` (full policy: named
    ``extract`` group, entity replacement except ``&amp;``/``&lt;``)."""
    _validate([("re", pattern)])
    return _per_page(
        _STRINGS,
        None,
        lambda sel: sel.re(pattern, replace_entities=replace_entities),
        column,
    )


def attrib_map(column: Column | str, query: str, type: str | None = None) -> Column:
    """``MAP<STRING,STRING>`` of the first matched element's attributes
    (SelectorList.attrib semantics, parsel/selector.py:277-284)."""
    _validate([("css", query)], type)
    return _per_page(
        T.MapType(T.StringType(), T.StringType()),
        type,
        lambda sel: dict(sel.css(query).attrib),
        column,
    )


def jmespath_getall(column: Column | str, query: str) -> Column:
    """Vectorized JMESPath over a JSON string column; results stringified
    like ``getall()`` does."""
    return select_getall(column, ("jmespath", query), type="json")


def extract_struct(
    column: Column | str,
    fields: dict[str, tuple],
    type: str | None = None,
) -> Column:
    """Run several pipelines against ONE parse of each document and return
    ``STRUCT<name: ARRAY<STRING>, ...>`` — the vectorized analog of
    chaining many queries off one ``Selector`` (parse amortization).  A
    pipeline that raises yields ``[]`` for its own field only."""
    for ops in fields.values():
        _validate(ops, type)

    getall = guarded(_getall, [])

    def page(sel: Selector) -> dict[str, list[str]]:
        return {name: getall(sel, ops) for name, ops in fields.items()}

    schema = T.StructType([T.StructField(name, _STRINGS) for name in fields])
    return _per_page(schema, type, page, column)


def extract_links(column: Column | str) -> Column:
    """Anchor hrefs (``a::attr(href)``) — the crawl engine's hot path."""
    return css_getall(column, "a::attr(href)")


def _rel_tokens(value: str) -> set[str]:
    """Lowercased token set of a ``rel`` / robots-directive attribute
    (HTML rel is space-separated; robots meta content is
    comma-separated — both tokenizations are accepted everywhere)."""
    return set(value.lower().replace(",", " ").split())


def extract_canonical_links(
    html_column: Column | str,
    base_url_column: Column | str,
    drop_css: str | None = None,
    respect_nofollow: bool = False,
) -> Column:
    """FUSED hot path: parse + [optional ``drop_css`` node removal] +
    ``a::attr(href)`` + resolve-against-base + RFC-3986 canonicalization
    in ONE Arrow UDF pass, returning ``ARRAY<STRING>`` of canonical
    URLs.

    ``respect_nofollow=True`` applies the Robots Exclusion Protocol's
    page-level layer (the public robots-meta/rel-nofollow convention
    every polite crawler honors): a ``<meta name="robots">`` whose
    content contains the ``nofollow`` directive suppresses ALL links of
    that page, and any ``<a rel>`` containing the ``nofollow`` token
    (case-insensitive, multi-token rel supported) is skipped.  Off by
    default: the hot path stays the single compiled-CSS pass.

    Fusion matters at scale: the unfused plan round-trips every exploded
    href JVM→Python→JVM for the resolve UDF — at ~12 links/page that is
    an order of magnitude more Arrow traffic than the pages themselves.
    Here only the final canonical array crosses the boundary once, and
    the explained plan shows a single ArrowEvalPython node.
    """
    if drop_css is not None:
        _validate([("css", drop_css)])

    def page(sel: Selector, base: str | None) -> list[str]:
        if drop_css is not None:
            # drop, then round-trip through the serializer and re-parse
            # (still ONE Python hop): keeps the driver query an E2E check
            # of drop + serialization + reparse, not just in-tree mutation
            sel.css(drop_css).drop()
            sel = Selector(text=sel.get())
        if respect_nofollow:
            for m in sel.xpath("//meta[@content]"):
                name = (m.attrib.get("name") or "").strip().lower()
                if name == "robots" and "nofollow" in _rel_tokens(
                    m.attrib.get("content") or ""
                ):
                    return []
            hrefs = [
                a.attrib["href"]
                for a in sel.xpath("//a[@href]")
                if "nofollow" not in _rel_tokens(a.attrib.get("rel") or "")
            ]
        else:
            hrefs = sel.css("a::attr(href)").getall()
        return [u for u in (resolve_url(base, h) for h in hrefs) if u is not None]

    return _per_page(_STRINGS, None, page, html_column, base_url_column)


def extract_images(column: Column | str) -> Column:
    """``img`` src + alt pairs as a struct of arrays (single parse)."""
    return extract_struct(
        column,
        {
            "src": (("css", "img::attr(src)"),),
            "alt": (("css", "img::attr(alt)"),),
        },
    )


def extract_sitemap(column: Column | str) -> Column:
    """Sitemap ingestion (public sitemaps.org protocol — the OTHER way
    crawlers discover URLs besides anchors): ``STRUCT(page_urls,
    sitemap_urls)`` from ONE XML parse per row — ``urlset/url/loc``
    page entries and ``sitemapindex/sitemap/loc`` nested-index entries.
    ``local-name()`` matching tolerates the 0.9 namespace being
    present, absent or re-prefixed (all three occur in the wild).
    Feed ``sitemap_urls`` back into the fetch frontier to walk nested
    indexes; ``page_urls`` go through canonicalization and the
    seen-set gate like any extracted link."""
    return extract_struct(
        column,
        {
            "page_urls": (
                ("xpath", _SITEMAP_URLS + "/*[local-name()='loc']/text()"),
            ),
            "sitemap_urls": (
                (
                    "xpath",
                    "//*[local-name()='sitemapindex']"
                    "/*[local-name()='sitemap']/*[local-name()='loc']/text()",
                ),
            ),
        },
        type="xml",
    )


def extract_anchors(column: Column | str) -> Column:
    """``ARRAY<STRUCT<href, text>>`` — every anchor's href PAIRED with
    its whitespace-normalized subtree text, in document order.  Anchor
    text is the classic link-graph signal (crawl prioritization,
    target-page description for training corpora) that the plain
    ``a::attr(href)`` hot path throws away; this keeps the same
    one-parse-per-row Arrow shape.  Anchors without an href keep a null
    href (callers filter); nested markup inside the anchor flattens to
    its text."""

    def page(sel: Selector) -> list[dict]:
        return [
            {
                "href": a.attrib.get("href"),
                "text": " ".join("".join(a.css("::text").getall()).split()),
            }
            for a in sel.css("a")
        ]

    schema = T.ArrayType(
        T.StructType(
            [
                T.StructField("href", T.StringType()),
                T.StructField("text", T.StringType()),
            ]
        )
    )
    return _per_page(schema, None, page, column)


def extract_rel_canonical(
    html_column: Column | str, base_url_column: Column | str
) -> Column:
    """``<link rel="canonical" href=...>`` target per page (the public
    rel-canonical convention, RFC 6596): the content-level URL identity
    signal crawlers use to collapse parameterized / mirrored captures
    of the same logical page.  FIRST such link wins (the convention on
    malformed multi-canonical pages); the href resolves against the
    page URL and runs RFC-3986 canonicalization — same fused
    one-Python-hop shape as the link extractor.  NULL when absent or
    unresolvable; multi-token ``rel`` values match per-token,
    case-insensitively (``rel="Canonical alternate"`` counts)."""

    def page(sel: Selector, base: str | None) -> str | None:
        for link in sel.xpath("//link[@href]"):
            if "canonical" in _rel_tokens(link.attrib.get("rel") or ""):
                return resolve_url(base, link.attrib["href"])
        return None

    return _per_page(T.StringType(), None, page, html_column, base_url_column)


def extract_sitemap_entries(column: Column | str) -> Column:
    """Full sitemaps.org ``<url>`` entries — ``ARRAY<STRUCT<loc,
    lastmod, changefreq, priority>>`` per sitemap document, document
    order, one XXE-safe XML parse per row (same namespace tolerance as
    :func:`extract_sitemap`).  ``lastmod`` is the protocol's change
    signal: parse it to epoch seconds and feed
    ``frontier.recrawl_due``'s ``last_change_ts`` so changed pages jump
    the backoff queue; ``changefreq``/``priority`` are advisory
    ordering hints.  Missing children yield NULL fields; entries
    without a ``<loc>`` are skipped (spec-invalid)."""

    def child(node: Selector, name: str) -> str | None:
        vals = node.xpath(f"./*[local-name()='{name}']/text()").getall()
        return vals[0].strip() if vals else None

    def page(sel: Selector) -> list[dict]:
        entries = []
        for node in sel.xpath(_SITEMAP_URLS):
            loc = child(node, "loc")
            if not loc:
                continue
            prio = child(node, "priority")
            try:
                prio_f = float(prio) if prio is not None else None
            except ValueError:
                prio_f = None
            entries.append(
                {
                    "loc": loc,
                    "lastmod": child(node, "lastmod"),
                    "changefreq": child(node, "changefreq"),
                    "priority": prio_f,
                }
            )
        return entries

    schema = T.ArrayType(
        T.StructType(
            [
                T.StructField("loc", T.StringType()),
                T.StructField("lastmod", T.StringType()),
                T.StructField("changefreq", T.StringType()),
                T.StructField("priority", T.DoubleType()),
            ]
        )
    )
    return _per_page(schema, "xml", page, column)


def extract_image_pairs(
    html_column: Column | str, base_url_column: Column | str
) -> Column:
    """Image–caption candidate pair MINING from page markup — the step
    that turns a crawled page into input_hint-shaped training rows
    (the public LAION recipe: Open Graph metadata and ``alt`` text are
    the caption sources):

    * ``og:image`` + (``og:title`` else ``og:description``) → one pair
      with ``source='og'`` (the page's declared representative image);
    * every ``<img src alt>`` with non-empty trimmed ``alt`` → a pair
      with ``source='alt'``.

    Image URLs resolve against the page URL and run RFC-3986
    canonicalization; captions are whitespace-trimmed.  Returns
    ``ARRAY<STRUCT<image_url, caption, source>>`` in document order
    (og first) — same fused one-Python-hop shape as the link
    extractor; explode + join against the fetch layer downstream."""

    def page(sel: Selector, base: str | None) -> list[dict]:
        pairs = []
        metas: dict[str, str] = {}
        for m in sel.xpath("//meta[@property and @content]"):
            prop = (m.attrib.get("property") or "").strip().lower()
            if prop in ("og:image", "og:title", "og:description"):
                metas.setdefault(prop, m.attrib["content"])
        og_img = metas.get("og:image")
        if og_img:
            caption = (
                metas.get("og:title") or metas.get("og:description") or ""
            ).strip()
            url = resolve_url(base, og_img)
            if url is not None and caption:
                pairs.append({"image_url": url, "caption": caption, "source": "og"})
        for img in sel.xpath("//img[@src and @alt]"):
            alt = (img.attrib.get("alt") or "").strip()
            if not alt:
                continue
            url = resolve_url(base, img.attrib["src"])
            if url is not None:
                pairs.append({"image_url": url, "caption": alt, "source": "alt"})
        return pairs

    schema = T.ArrayType(
        T.StructType(
            [
                T.StructField("image_url", T.StringType()),
                T.StructField("caption", T.StringType()),
                T.StructField("source", T.StringType()),
            ]
        )
    )
    return _per_page(schema, None, page, html_column, base_url_column)
