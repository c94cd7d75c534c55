"""The engine has one Python boundary, Arrow: no module of
``parsel_spark`` uses a pandas UDF API or imports pandas, except the two
``applyInPandasWithState`` sites of ``streaming/stream_crawl.py`` (no
Arrow twin of ``GroupState`` exists)."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "parsel_spark"
PANDAS_APIS = ("pandas_udf", "applyInPandas", "mapInPandas")
ALLOWED = {
    "streaming/stream_crawl.py": Counter(
        {"applyInPandasWithState": 2, "import pandas": 1}
    ),
}


def _pandas_uses(tree: ast.AST) -> Counter:
    uses: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.alias):
            name = node.name
        else:
            name = None
        if name and name.startswith(PANDAS_APIS):
            uses[name] += 1
        if isinstance(node, ast.Import):
            modules = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            modules = [node.module or ""]
        else:
            modules = []
        uses["import pandas"] += sum(
            m == "pandas" or m.startswith("pandas.") for m in modules
        )
    return +uses


def test_only_the_stateful_streaming_sites_use_pandas() -> None:
    found = {
        str(path.relative_to(PACKAGE)): uses
        for path in sorted(PACKAGE.rglob("*.py"))
        if (uses := _pandas_uses(ast.parse(path.read_text(), str(path))))
    }
    assert found == ALLOWED


def test_scan_sees_each_pandas_form() -> None:
    src = (
        "import pandas as pd\n"
        "from pandas import DataFrame\n"
        "from pyspark.sql.functions import pandas_udf\n"
        "df.groupBy('k').applyInPandas(f, schema=s)\n"
        "df.mapInPandas(f, schema=s)\n"
        "from pyspark.sql.pandas.types import to_arrow_type\n"
    )
    assert _pandas_uses(ast.parse(src)) == Counter(
        {"import pandas": 2, "pandas_udf": 1, "applyInPandas": 1, "mapInPandas": 1}
    )
