"""RFC-3986 URL canonicalization (driver north rule: the URL-seen set is
keyed on canonicalized + hashed URLs).

Normalizations applied (RFC 3986 §6.2.2 syntax-based + the crawl
conventions documented in FIXTURES.md §1 "canonicalization traps"):

* scheme and host lowercased; default ports (http:80, https:443) dropped;
* fragment removed;
* path dot-segments removed (§5.2.4); empty path → "/";
* percent-encoding normalized: unreserved chars decoded, other escapes
  uppercased; spaces in query become ``+``-free ``%20`` form;
* query parameters stably sorted by (key, value) and re-encoded.

The scalar function is pure Python (shared with the single-process
oracle crawler); Spark exposure is an Arrow-batched UDF.
"""

from __future__ import annotations

import re
from urllib.parse import quote, urljoin, urlsplit

from pyspark.sql import Column
from pyspark.sql import types as T

from .rows import row_udf

_DEFAULT_PORTS = {"http": "80", "https": "443", "ftp": "21"}

_SAFE_PATH = "/!$&'()*+,;=:@~-._"
_SAFE_QUERY = "!$&'()*+,;=:@/?~-._"
# query keys/values additionally escape the pair separators; computed
# once (this was rebuilt per key AND per value in the query loop)
_SAFE_QUERY_KV = _SAFE_QUERY.replace("&", "").replace("=", "")

# fast-path recognizer: URLs whose only non-canonical features (if any)
# are an upper-case scheme/host, a default port, or a fragment — the
# overwhelmingly common shapes link extraction produces.  No userinfo,
# query, escapes, dot/empty segments or non-default ports: those take
# the full slow path, which stays the source of truth
# (test_canonicalize_fastpath_equals_slowpath pins fast == slow).
# Non-default ports are EXCLUDED on purpose: the slow path alone decides
# what a port is, and keeps a URL whose port is not one (``:8x``,
# ``:-1``, ``:99999``) in its input form.
_FAST_RE = re.compile(
    r"^(https?)://"
    r"([a-z0-9](?:[a-z0-9.-]*[a-z0-9])?)"
    r"(?::(80|443))?"
    r"(/(?:[a-zA-Z0-9!$&'()*+,;=:@~\-._]+/)*[a-zA-Z0-9!$&'()*+,;=:@~\-._]*)?$",
    # ASCII is load-bearing: plain IGNORECASE does unicode casefolding,
    # under which e.g. U+017F (long s) or U+212A (Kelvin sign) match
    # [a-z] — and would take hosts that NEED the slow path's IDNA
    # normalization through the fast path unchanged
    re.IGNORECASE | re.ASCII,
)
_DOT_SEGMENT_RE = re.compile(r"/\.\.?(?:/|$)")


# RFC 3986 §2.3 unreserved characters — the ONLY escapes that decode
_UNRESERVED = frozenset(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)
_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")


def _normalize_percent(component: str, safe: str, decode: bool = True) -> str:
    """Percent-encoding normalization per RFC 3986 §6.2.2.2: decode
    ONLY unreserved characters, uppercase every remaining escape, and
    encode raw characters outside ``safe``.

    A wholesale ``quote(unquote(x))`` is WRONG here: it decodes
    reserved escapes too (``%2F`` → a literal path ``/``), conflating
    distinct URLs in the seen-set and producing wrong fetch URLs."""
    out: list[str] = []
    pos = 0
    for match in _PCT_RE.finditer(component):
        out.append(quote(component[pos : match.start()], safe=safe))
        ch = chr(int(match.group(1), 16))
        if decode and ch in _UNRESERVED:
            out.append(ch)
        else:
            out.append("%" + match.group(1).upper())
        pos = match.end()
    out.append(quote(component[pos:], safe=safe))
    return "".join(out)


def _normalize_path_segments(path: str) -> str:
    """Per-segment percent normalization with a structural guard: a
    segment whose DECODED form would be ``.`` or ``..`` (e.g. ``%2e%2e``)
    keeps its dots encoded — decoding is allowed ('.' is unreserved) but
    re-introducing path STRUCTURE is not: ``/a/%2e%2e/secret`` must stay
    distinct from ``/secret``.  Literal dot segments still normalize."""
    segments = []
    for seg in path.split("/"):
        norm = _normalize_percent(seg, _SAFE_PATH)
        if norm in (".", "..") and seg != norm:
            norm = _normalize_percent(seg, _SAFE_PATH, decode=False)
        segments.append(norm)
    return "/".join(segments)


def _remove_dot_segments(path: str) -> str:
    output: list[str] = []
    for segment in path.split("/"):
        if segment == ".":
            continue
        if segment == "..":
            if output and output[-1] != "":
                output.pop()
                if not output:
                    output = [""]
        else:
            output.append(segment)
    normalized = "/".join(output)
    if path.startswith("/") and not normalized.startswith("/"):
        normalized = "/" + normalized
    if path.endswith(("/.", "/..")) and not normalized.endswith("/"):
        normalized += "/"
    return normalized


def canonicalize_url(url: str | None) -> str | None:
    """Return the canonical form of ``url`` (None-safe)."""
    if url is None:
        return None
    url = url.strip()
    if not url:
        return url
    # fast path: already-canonical URLs pass through untouched — at crawl
    # steady state most URLs were canonicalized when first discovered —
    # and the three cheap-to-normalize shapes (case, default port,
    # fragment) rebuild without urlsplit.  The fragment is split off
    # first because canonicalization always drops it; when the remainder
    # does not fast-match, the ORIGINAL url takes the slow path.
    base, frag_sep, _ = url.partition("#")
    match = _FAST_RE.match(base)
    if match is not None:
        scheme, host, port, path = match.group(1, 2, 3, 4)
        default_port = (
            port is None
            or (port == "80" and len(scheme) == 4)
            or (port == "443" and len(scheme) == 5)
        )
        if default_port and (
            path is None or not _DOT_SEGMENT_RE.search(path)
        ):
            if (
                not frag_sep
                and port is None
                and scheme.islower()
                and host.islower()
            ):
                # already canonical: zero-copy
                return url if path is not None else url + "/"
            return f"{scheme.lower()}://{host.lower()}{path or '/'}"
    # a URL urlsplit rejects, or whose port is not an integer in
    # 0..65535, keeps its input form (recovering, never raises): one
    # bad href must not fail a page's whole link list or a Spark job
    try:
        parts = urlsplit(url)
        port = parts.port
    except ValueError:
        return url
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    host = host.rstrip(".")
    # IDN hosts → punycode (RFC 3490 ToASCII via the stdlib idna
    # codec) — one crawl identity for 'münchen.example' and
    # 'xn--mnchen-3ya.example'; ASCII hosts skip the check entirely
    # (the fast path above never reaches here for them anyway), and a
    # malformed label keeps its input form (recovering, never raises)
    if host and not host.isascii():
        try:
            host = host.encode("idna").decode("ascii")
        except UnicodeError:
            pass
    # ``hostname`` strips an IPv6 literal's brackets; without them the
    # address reads as host:port and the URL has no parseable host
    if ":" in host:
        host = f"[{host}]"
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    if parts.username:
        auth = parts.username
        if parts.password:
            auth += f":{parts.password}"
        netloc = f"{auth}@{netloc}"

    path = _normalize_path_segments(parts.path)
    path = _remove_dot_segments(path)
    if not path:
        path = "/"

    query = ""
    if parts.query:
        pairs = []
        for chunk in parts.query.split("&"):
            if not chunk:
                continue
            key, _, value = chunk.partition("=")
            pairs.append(
                (
                    _normalize_percent(key, _SAFE_QUERY_KV),
                    _normalize_percent(value, _SAFE_QUERY_KV),
                )
            )
        pairs.sort()
        # always emit k=v (bare "?flag" normalizes to "flag=") — the
        # uniform form is what makes canonicalization idempotent
        query = "&".join(f"{k}={v}" for k, v in pairs)

    out = f"{scheme}://{netloc}{path}" if scheme else f"{netloc}{path}"
    if query:
        out += f"?{query}"
    return out


def resolve_url(base: str | None, href: str | None) -> str | None:
    """Resolve ``href`` against ``base`` and canonicalize (link-extraction
    helper; mirrors what a crawler does with ``<a href>`` values)."""
    if href is None:
        return None
    if base:
        # fast paths for the two dominant shapes; urljoin is ~15µs
        if href.startswith(("http://", "https://", "HTTP://", "HTTPS://")):
            pass  # already absolute
        elif (
            href.startswith("/")
            and not href.startswith("//")
            and base.startswith(("http://", "https://"))
        ):
            scheme_end = base.index("://") + 3
            host_end = base.find("/", scheme_end)
            prefix = base if host_end < 0 else base[:host_end]
            href = prefix + href
        else:
            try:
                href = urljoin(base, href)
            except ValueError:
                return None
    return canonicalize_url(href)


def canonicalize_udf(column: Column | str) -> Column:
    return row_udf(T.StringType(), canonicalize_url, column)


def resolve_udf(base_column: Column | str, href_column: Column | str) -> Column:
    return row_udf(T.StringType(), resolve_url, base_column, href_column)
