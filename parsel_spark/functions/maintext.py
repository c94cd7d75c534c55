"""Main-text extraction (boilerplate removal) — deterministic rule-based
html -> training-text, the step every crawl->LLM pipeline runs between
the WARC payload and token counting.

Algorithm (rule-based, no model, fully deterministic — the public
readability/jusText lineage reduced to two closed-form rules so a SQL
oracle can replay planted structure):

1. DROP non-content subtrees by tag (`script`, `style`, `nav`,
   `footer`, ...) — markup that never carries training text.
2. Split the remaining tree into PARAGRAPH UNITS: each block element's
   run of direct inline content (text nodes + inline elements) between
   block children.  A unit is kept iff its LINK DENSITY — non-space
   chars inside ``<a>`` over all non-space chars — is <= 0.5 (pure
   link clusters are navigation, not prose).
3. Output = kept units in document order, each whitespace-normalized,
   joined by single spaces.

Runs through the engine's own recovering HTML parser (the same
from-scratch tree the Selector API queries — reference behavior:
parsel/selector.py:90-119 builds the equivalent lxml tree), vectorized
as one Arrow-batched UDF: one parse per document, only the final
string re-crosses the JVM boundary.  Unparseable/null rows yield ''.

Scale shape: map-only (no shuffle, no state); the UDF is the same
fused-pipeline pattern as ``extract_canonical_links``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import types as T

from ..selector.dom import Document, Element, TextNode
from .rows import row_udf

#: subtrees that never carry main text (dropped wholesale)
DROP_TAGS = frozenset(
    {
        "script", "style", "noscript", "template", "iframe", "svg",
        "canvas", "object", "embed", "applet", "head", "title", "meta",
        "link", "base", "nav", "header", "footer", "aside", "form",
        "button", "select", "option", "input", "label", "datalist",
    }
)

#: elements that start a new paragraph unit (everything else — including
#: unknown tags, matching the HTML5 default — is treated as inline)
BLOCK_TAGS = frozenset(
    {
        "html", "body", "main", "article", "section", "div", "p",
        "h1", "h2", "h3", "h4", "h5", "h6", "ul", "ol", "li", "dl",
        "dt", "dd", "table", "thead", "tbody", "tfoot", "tr", "td",
        "th", "blockquote", "pre", "figure", "figcaption", "address",
        "fieldset", "details", "summary", "hr", "center",
    }
)

MAX_LINK_DENSITY = 0.5


def _local(el: Element) -> str:
    return el.local_name.lower()


def _inline_text(el: Element, in_link: bool, parts: list) -> None:
    """Collect (text, is_link) fragments of an inline subtree, skipping
    DROP_TAGS; ``in_link`` marks text under an ``<a>`` ancestor."""
    link = in_link or _local(el) == "a"
    for child in el.children:
        if isinstance(child, TextNode):
            parts.append((child.data, link))
        elif isinstance(child, Element):
            if _local(child) in DROP_TAGS:
                continue
            _inline_text(child, link, parts)


def _flush(parts: list, units: list[str], max_link_density: float) -> None:
    if not parts:
        return
    total = sum(len(t) for text, _ in parts for t in text.split())
    if total == 0:
        parts.clear()
        return
    linked = sum(
        len(t) for text, is_link in parts if is_link for t in text.split()
    )
    if linked / total <= max_link_density:
        units.append(" ".join("".join(text for text, _ in parts).split()))
    parts.clear()


def _collect(el: Element, units: list[str], max_link_density: float) -> None:
    parts: list = []
    for child in el.children:
        if isinstance(child, TextNode):
            parts.append((child.data, False))
        elif isinstance(child, Element):
            tag = _local(child)
            if tag in DROP_TAGS:
                continue
            if tag in BLOCK_TAGS:
                _flush(parts, units, max_link_density)
                _collect(child, units, max_link_density)
            else:
                _inline_text(child, False, parts)
    _flush(parts, units, max_link_density)


def main_text_str(
    html: str | None, max_link_density: float = MAX_LINK_DENSITY
) -> str:
    """Pure-Python single-document form (the local oracle the
    distributed UDF must agree with)."""
    if html is None:
        return ""
    from ..selector.htmlparser import parse_html

    try:
        doc: Document = parse_html(html)
    except Exception:
        return ""
    root = doc.root_element
    if root is None:
        return ""
    units: list[str] = []
    if _local(root) in DROP_TAGS:
        return ""
    if _local(root) in BLOCK_TAGS:
        _collect(root, units, max_link_density)
    else:
        parts: list = []
        _inline_text(root, False, parts)
        _flush(parts, units, max_link_density)
    return " ".join(units)


def main_text(
    column: Column | str, max_link_density: float = MAX_LINK_DENSITY
) -> Column:
    """``STRING`` main text per document — vectorized, one parse/row."""
    return row_udf(
        T.StringType(), lambda html: main_text_str(html, max_link_density), column
    )
