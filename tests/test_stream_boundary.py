"""Streaming queries start in one place: ``stream_crawl.stream_once``
is the only code of ``parsel_spark`` or ``__spark_entry__.py`` that
opens a sink (``writeStream``), waits on a query (``awaitTermination``)
or types a file-source stream (``readStream.schema(``), besides
``read_page_stream``'s page-stream schema."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STREAM_CRAWL = "parsel_spark/streaming/stream_crawl.py"
ALLOWED = {
    f"{STREAM_CRAWL}:read_page_stream": Counter({"readStream.schema": 1}),
    f"{STREAM_CRAWL}:stream_once": Counter(
        {"writeStream": 1, "awaitTermination": 1, "readStream.schema": 1}
    ),
}


def _stream_uses(tree: ast.AST) -> dict[str, Counter]:
    """``{enclosing function: Counter(form)}`` of the stream forms; code
    outside any function counts under ``<module>``."""
    uses: dict[str, Counter] = {}

    def visit(node: ast.AST, scope: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = node.name
        if isinstance(node, ast.Attribute):
            if node.attr in ("writeStream", "awaitTermination"):
                form = node.attr
            elif (
                node.attr == "schema"
                and isinstance(node.value, ast.Attribute)
                and node.value.attr == "readStream"
            ):
                form = "readStream.schema"
            else:
                form = None
            if form:
                uses.setdefault(scope, Counter())[form] += 1
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, "<module>")
    return uses


def test_only_the_runner_starts_stream_queries() -> None:
    paths = sorted((ROOT / "parsel_spark").rglob("*.py"))
    paths.append(ROOT / "__spark_entry__.py")
    found = {
        f"{path.relative_to(ROOT)}:{scope}": forms
        for path in paths
        for scope, forms in _stream_uses(
            ast.parse(path.read_text(), str(path))
        ).items()
    }
    assert found == ALLOWED


def test_scan_sees_each_stream_form() -> None:
    src = (
        "def row(spark, d):\n"
        "    s = spark.readStream.schema('a long').parquet(d)\n"
        "    q = s.writeStream.format('parquet').start(d)\n"
        "    q.awaitTermination()\n"
        "spark.readStream.schema(schema)\n"
    )
    assert _stream_uses(ast.parse(src)) == {
        "row": Counter(
            {"readStream.schema": 1, "writeStream": 1, "awaitTermination": 1}
        ),
        "<module>": Counter({"readStream.schema": 1}),
    }
