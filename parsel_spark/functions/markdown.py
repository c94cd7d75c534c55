"""HTML → Markdown conversion — the structured-text flavor of corpus
extraction modern LLM pipelines prefer over flat text (the public
html2text/markdownify convention: headings, emphasis, links, lists,
code and tables survive as lightweight markup the model can learn).

Deterministic rule-based subset, rendered by a single DFS over the
engine's own recovering-parser DOM (one parse per document — the same
fused one-Python-hop shape as the other extraction UDFs):

* ``h1``–``h6`` → ``#``·n heading lines;
* ``p`` / bare block text → paragraphs separated by blank lines;
* ``a`` → ``[text](href)`` (no href ⇒ bare text);
* ``strong``/``b`` → ``**text**``, ``em``/``i`` → ``*text*``,
  ``code`` (inline) → ```` `text` ````;
* ``ul``/``ol`` → ``- `` / ``1. `` items (nested lists indent 2
  spaces; ordered markers count per level);
* ``pre`` → fenced code block (content verbatim, no inline rules);
* ``blockquote`` → ``> `` prefixed lines;
* ``table`` → pipe rows, first ``tr`` treated as the header row
  (``| a | b |`` + ``| --- |``·k separator);
* ``script``/``style``/``head``/``template``/``noscript``/comments
  dropped; ``br`` → line break; unknown inline tags pass their text
  through; unknown block tags recurse.

Whitespace inside inline runs collapses to single spaces (the
documented lossy part — same normalization as the main-text
extractor).  ``to_markdown`` is the pure-python core (also the oracle
twin for unit tests); ``html_to_markdown`` is the Arrow-batched column
form.  Unparseable/empty rows yield ``''``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import types as T

from ..selector.dom import Comment, Element, ProcessingInstruction, TextNode
from .rows import row_udf

_DROP = {"script", "style", "head", "template", "noscript"}
_INLINE_WRAP = {"strong": "**", "b": "**", "em": "*", "i": "*", "code": "`"}
_BLOCKS = {
    "p", "div", "section", "article", "main", "aside", "header", "footer",
    "body", "html", "ul", "ol", "li", "pre", "blockquote", "table", "nav",
    "figure", "figcaption",
}
_WS = re.compile(r"\s+")


def _norm(text: str) -> str:
    return _WS.sub(" ", text).strip()


def _inline(node) -> str:
    """Flatten a node's content under inline rules (no block breaks) —
    the single implementation; see :func:`_inline_without`."""
    return _inline_without(node, skip=set())


def _text_verbatim(node) -> str:
    parts: list[str] = []
    for child in node.children:
        if isinstance(child, TextNode):
            parts.append(child.data)
        elif isinstance(child, Element):
            parts.append(_text_verbatim(child))
    return "".join(parts)


def _list_items(el, out: list[str], depth: int, ordered: bool) -> None:
    idx = 0
    for child in el.children:
        if isinstance(child, Element) and child.local_name.lower() == "li":
            idx += 1
            marker = f"{idx}. " if ordered else "- "
            nested = [
                c
                for c in child.children
                if isinstance(c, Element)
                and c.local_name.lower() in ("ul", "ol")
            ]
            own = _norm(
                _inline_without(child, skip=set(id(n) for n in nested))
            )
            if own:
                out.append("  " * depth + marker + own)
            for sub in nested:
                _list_items(
                    sub, out, depth + 1,
                    ordered=sub.local_name.lower() == "ol",
                )


def _inline_without(node, skip: set[int]) -> str:
    """Inline renderer (skipping nodes whose ids are in ``skip`` —
    the nested-list carve-out).  ``_inline`` is this with an empty
    skip set; keeping ONE body means every inline rule (br, links,
    emphasis, drop tags) behaves identically in list items, paragraph
    runs, headings and quotes."""
    parts: list[str] = []
    for child in node.children:
        if id(child) in skip:
            continue
        if isinstance(child, TextNode):
            parts.append(child.data)
        elif isinstance(child, Element):
            tag = child.local_name.lower()
            if tag in _DROP:
                continue
            if tag == "br":
                parts.append("\n")
                continue
            inner = _inline(child)
            if tag == "a":
                href = child.get("href")
                text = _norm(inner)
                parts.append(f"[{text}]({href})" if href else text)
            elif tag in _INLINE_WRAP:
                mark = _INLINE_WRAP[tag]
                text = _norm(inner)
                parts.append(f"{mark}{text}{mark}" if text else "")
            else:
                parts.append(inner)
        # comments / PIs contribute nothing
    return " ".join(p for p in parts if p != "")


def _table(el, out: list[str]) -> None:
    rows: list[list[str]] = []
    for tr in el.iter("tr"):
        cells = [
            _norm(_inline(td))
            for td in tr.children
            if isinstance(td, Element)
            and td.local_name.lower() in ("td", "th")
        ]
        if cells:
            rows.append(cells)
    if not rows:
        return
    out.append("| " + " | ".join(rows[0]) + " |")
    out.append("|" + "|".join(" --- " for _ in rows[0]) + "|")
    for cells in rows[1:]:
        out.append("| " + " | ".join(cells) + " |")


def _block(el, out: list[str]) -> None:
    """Render a block-level element; inline runs between block children
    become paragraphs."""
    run: list = []

    def flush() -> None:
        if not run:
            return
        text = _norm(
            _inline_without(_FakeParent(run), skip=set())
        )
        if text:
            out.append(text)
        run.clear()

    for child in el.children:
        if isinstance(child, TextNode):
            run.append(child)
            continue
        if isinstance(child, (Comment, ProcessingInstruction)):
            continue
        if not isinstance(child, Element):
            continue
        tag = child.local_name.lower()
        if tag in _DROP:
            continue
        if len(tag) == 2 and tag[0] == "h" and tag[1].isdigit() and tag != "h0":
            flush()
            text = _norm(_inline(child))
            if text:
                out.append("#" * int(tag[1]) + " " + text)
        elif tag == "p":
            flush()
            text = _norm(_inline(child))
            if text:
                out.append(text)
        elif tag in ("ul", "ol"):
            flush()
            items: list[str] = []
            _list_items(child, items, 0, ordered=tag == "ol")
            if items:
                out.append("\n".join(items))
        elif tag == "pre":
            flush()
            out.append("```\n" + _text_verbatim(child).strip("\n") + "\n```")
        elif tag == "blockquote":
            flush()
            text = _norm(_inline(child))
            if text:
                out.append("> " + text)
        elif tag == "table":
            flush()
            rows: list[str] = []
            _table(child, rows)
            if rows:
                out.append("\n".join(rows))
        elif tag in _BLOCKS:
            flush()
            _block(child, out)
        else:
            run.append(child)
    flush()


class _FakeParent:
    __slots__ = ("children",)

    def __init__(self, children):
        self.children = list(children)


def to_markdown(html: str | None) -> str:
    """Pure-python core (and unit-test twin): html → markdown blocks
    joined by blank lines."""
    if html is None or not str(html).strip():
        return ""
    from ..selector.selector import Selector

    try:
        sel = Selector(text=str(html))
        root = sel.root
    except Exception:
        return ""
    out: list[str] = []
    try:
        _block(root, out)
    except Exception:
        return ""
    return "\n\n".join(out)


def html_to_markdown(column: Column | str) -> Column:
    """Arrow-batched column form of :func:`to_markdown` — one parse +
    one DFS per document, map-only."""
    return row_udf(T.StringType(), to_markdown, column)
