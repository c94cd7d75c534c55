"""robots.txt parsing → the per-host rule table the frontier enforces
(north star: "robots.txt + per-host token-bucket politeness enforced
per partition").

The reference (parsel) has no robots support — this is graft scope.
Semantics follow the original robots exclusion protocol plus the
widely-implemented extensions the crawl needs:

* ``User-agent`` groups; consecutive UA lines share one rule group;
  the most specific matching group wins (exact agent name beats
  ``*``), matching is case-insensitive;
* ``Disallow`` / ``Allow`` path prefixes (empty ``Disallow:`` means
  allow-all, per the RFC 9309 grammar);
* ``Crawl-delay`` (seconds → token-refill period in waves);
* comments (``#`` to end of line), blank lines, unknown directives
  ignored; never raises on malformed input (recovering, like the
  selector parsers).

Spark side: one Arrow-batched UDF mapping the raw robots.txt
``STRING`` column to the ``(allow_prefixes, deny_prefixes,
crawl_delay)`` struct — parse happens once per host row, map-side; the
resulting small dim table is broadcast into ``robots_filter`` /
``politeness_dequeue`` exactly like a hand-written rule table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rows import row_udf

DEFAULT_CRAWL_DELAY = 1.0
DEFAULT_MAX_FETCH = 8

ROBOTS_RULES_SCHEMA = T.StructType(
    [
        T.StructField("allow_prefixes", T.ArrayType(T.StringType())),
        T.StructField("deny_prefixes", T.ArrayType(T.StringType())),
        T.StructField("crawl_delay", T.DoubleType()),
    ]
)


def parse_robots_txt(text: str | None, agent: str = "*") -> dict:
    """Pure-python single-document parser (also the local oracle)."""
    allow: list[str] = []
    deny: list[str] = []
    delay: float | None = None
    if not text:
        return {
            "allow_prefixes": ["/"],
            "deny_prefixes": [],
            "crawl_delay": DEFAULT_CRAWL_DELAY,
        }
    agent = agent.lower()
    # group collection: (specificity, allow, deny, delay); specificity
    # 2 = exact agent match, 1 = '*'
    groups: list[tuple[int, list[str], list[str], float | None]] = []
    cur_agents: list[str] = []
    cur_allow: list[str] = []
    cur_deny: list[str] = []
    cur_delay: float | None = None
    in_group_body = False

    def flush() -> None:
        nonlocal cur_agents, cur_allow, cur_deny, cur_delay
        if cur_agents:
            spec = 0
            if any(a == agent for a in cur_agents):
                spec = 2
            elif any(a == "*" for a in cur_agents):
                spec = 1
            if spec:
                groups.append((spec, cur_allow, cur_deny, cur_delay))
        cur_agents, cur_allow, cur_deny, cur_delay = [], [], [], None

    for raw_line in text.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        field, _, value = line.partition(":")
        field = field.strip().lower()
        value = value.strip()
        if field == "user-agent":
            if in_group_body:
                flush()
                in_group_body = False
            cur_agents.append(value.lower())
        elif field in ("allow", "disallow", "crawl-delay"):
            in_group_body = True
            if field == "allow" and value:
                cur_allow.append(value)
            elif field == "disallow":
                if value:
                    cur_deny.append(value)
                # empty Disallow: == allow all (no rule)
            elif field == "crawl-delay":
                try:
                    cur_delay = float(value)
                except ValueError:
                    pass
    flush()

    best_spec = max((g[0] for g in groups), default=0)
    if not best_spec:
        # no group matches this agent: RFC 9309 default is allow-all
        return {
            "allow_prefixes": ["/"],
            "deny_prefixes": [],
            "crawl_delay": DEFAULT_CRAWL_DELAY,
        }
    # RFC 9309 §2.2.1: ALL groups matching the agent merge (a second
    # ``User-agent: *`` block's rules must not be dropped); the allow
    # list is returned AS PARSED — synthesizing a default ``Allow: /``
    # would tie (and defeat) a group-wide ``Disallow: /`` under the
    # allow-wins longest-match tie-break in robots_filter
    for spec, g_allow, g_deny, g_delay in groups:
        if spec == best_spec:
            allow.extend(g_allow)
            deny.extend(g_deny)
            if delay is None and g_delay is not None:
                delay = g_delay
    return {
        "allow_prefixes": allow,
        "deny_prefixes": deny,
        "crawl_delay": delay if delay is not None else DEFAULT_CRAWL_DELAY,
    }


def robots_pattern_matches(pattern: str, path: str) -> bool:
    """RFC 9309 §2.2.3 path-pattern match — crawlers MUST support two
    metacharacters: ``*`` matches any run of characters and a TRAILING
    ``$`` anchors the pattern to the end of the path (elsewhere ``$``
    is literal); without the anchor the pattern is a prefix match.
    Pure-python twin of :func:`robots_pattern_like` — the udf/cogroup
    crawl modes and the single-process oracle all call this, the
    relational mode runs the LIKE translation; a parity test pins the
    two on every metachar shape."""
    # hot-path fast exit: real-world rules are overwhelmingly plain
    # prefixes — the crawl loop calls this per candidate URL, so the
    # metachar-free case must stay a startswith, not a regex build
    # (re's internal pattern cache bounds the slow path regardless)
    if "*" not in pattern and not pattern.endswith("$"):
        return path.startswith(pattern)
    import re

    anchored = pattern.endswith("$")
    core = pattern[:-1] if anchored else pattern
    rx = ".*".join(re.escape(part) for part in core.split("*"))
    return re.match(rx + ("$" if anchored else ""), path) is not None


def robots_pattern_like(path: Column, pattern: Column) -> Column:
    """JVM twin of :func:`robots_pattern_matches`: translate the RFC
    9309 pattern to ANSI ``LIKE`` (with ``ESCAPE '\\'``) entirely in
    column algebra — ``%``/``_`` escaped, ``*`` → ``%``, trailing
    ``$`` stripped and the implicit trailing ``%`` suppressed.  LIKE's
    greedy ``%`` backtracking is equivalent to the regex ``.*`` the
    python twin uses, so the two modes agree on every input; both
    engines (Spark and DuckDB) evaluate the same expression."""
    anchored = pattern.endswith("$")
    core = F.when(
        anchored, F.substr(pattern, F.lit(1), F.length(pattern) - 1)
    ).otherwise(pattern)
    esc = F.replace(core, F.lit("\\"), F.lit("\\\\"))
    esc = F.replace(esc, F.lit("%"), F.lit("\\%"))
    esc = F.replace(esc, F.lit("_"), F.lit("\\_"))
    like_pat = F.replace(esc, F.lit("*"), F.lit("%"))
    like_pat = F.when(anchored, like_pat).otherwise(
        F.concat(like_pat, F.lit("%"))
    )
    return F.like(path, like_pat, F.lit("\\"))


def robots_rules(text_col: Column | str, agent: str = "*") -> Column:
    """Vectorized robots.txt → rules struct (one parse per host row)."""
    return row_udf(
        ROBOTS_RULES_SCHEMA, lambda text: parse_robots_txt(text, agent), text_col
    )


def robots_table_from_txt(
    robots_txt: DataFrame,
    agent: str = "*",
    max_fetch_per_wave: int = DEFAULT_MAX_FETCH,
) -> DataFrame:
    """(host, robots_txt STRING) → the frontier's per-host rule table
    ``(host, allow_prefixes, deny_prefixes, crawl_delay,
    max_fetch_per_wave)`` consumed by ``robots_filter`` and
    ``politeness_dequeue``."""
    rules = robots_rules("robots_txt", agent=agent)
    return robots_txt.select("host", rules.alias("r")).select(
        "host",
        F.col("r.allow_prefixes").alias("allow_prefixes"),
        F.col("r.deny_prefixes").alias("deny_prefixes"),
        F.col("r.crawl_delay").alias("crawl_delay"),
        F.lit(max_fetch_per_wave).alias("max_fetch_per_wave"),
    )


def parse_sitemap_urls(text: str | None) -> list[str]:
    """``Sitemap:`` directives from a robots.txt (public sitemaps.org
    protocol; RFC 9309 treats them as "other records").  Unlike
    allow/deny they are GLOBAL — valid anywhere in the file, outside
    any user-agent group, repeatable; order preserved, exact-duplicate
    lines collapsed."""
    if not text:
        return []
    out: list[str] = []
    seen: set[str] = set()
    for raw_line in text.splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if ":" not in line:
            continue
        field, _, value = line.partition(":")
        if field.strip().lower() != "sitemap":
            continue
        value = value.strip()
        if value and value not in seen:
            seen.add(value)
            out.append(value)
    return out


def robots_sitemaps(text_col: Column | str) -> Column:
    """``ARRAY<STRING>`` of Sitemap directive urls per robots.txt row —
    feed into ``extract_sitemap`` fetches to bootstrap frontier
    discovery beyond anchor links."""
    return row_udf(T.ArrayType(T.StringType()), parse_sitemap_urls, text_col)
