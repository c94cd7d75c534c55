"""Single-process reference (oracle) crawler.

Defines the ground-truth crawl semantics that the distributed engine
must reproduce EXACTLY (north rule: crawl order + final URL-seen set
under the same seed list and politeness budget).  Shares every scalar
building block with the Spark path — selector engine for link
extraction, RFC-3986 canonicalization, Spark-compatible xxhash64 /
murmur3, bloom shard bit layout, token-bucket arithmetic — so any
divergence is a real engine bug, not an oracle artifact.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import urlsplit

from ..functions.canonical import canonicalize_url, resolve_url
from ..functions.hashing import murmur3_32, xxhash64
from ..operators.bloom import BloomShard
from ..operators.frontier import (
    INITIAL_TOKENS,
    NEW_PRIORITY_BASE,
    allowed_fetches,
    refill_tokens,
)
from ..selector import Selector
from ..sources.synth import SynthConfig, page_row, page_url, robots_rows


def _url_host(url: str) -> str:
    """The host as the engine's ``parse_url(url, 'HOST')`` reads it: an
    IPv6 literal keeps its brackets (``urlsplit`` strips them)."""
    host = urlsplit(url).hostname or ""
    return f"[{host}]" if ":" in host else host


@dataclass
class OracleState:
    frontier: list[tuple[str, int, str, float, int, int]] = field(default_factory=list)
    seen: set[str] = field(default_factory=set)
    host_tokens: dict[str, float] = field(default_factory=dict)
    crawl_log: list[tuple[int, str]] = field(default_factory=list)
    bloom: dict[int, BloomShard] = field(default_factory=dict)
    wave: int = 0


class OracleCrawler:
    def __init__(self, cfg: SynthConfig, num_shards: int = 32) -> None:
        self.cfg = cfg
        self.num_shards = num_shards
        cdf = cfg.cdf()
        # url -> page id index (the oracle's "corpus")
        self.url_to_page = {
            page_url(i, cfg, cdf): i for i in range(cfg.n_pages)
        }
        self.robots = {r["host"]: r for r in robots_rows(cfg)}
        self.state = OracleState()
        self._html_cache: dict[int, str] = {}

    # -- helpers ---------------------------------------------------------
    def _html_of(self, page_id: int) -> str:
        if page_id not in self._html_cache:
            import dataclasses

            row = page_row(
                page_id, dataclasses.replace(self.cfg, with_images=False)
            )
            self._html_cache[page_id] = row["html"]
        return self._html_cache[page_id]

    def _robots_allowed(self, url: str) -> bool:
        # RFC 9309 longest-match: the longest matching rule wins, so a
        # more specific Allow overrides a broader Disallow; rule paths
        # carry the §2.2.3 */$ metacharacters (engine twin:
        # operators/frontier.py robots_filter)
        from ..functions.robots import robots_pattern_matches

        parts = urlsplit(url)
        rules = self.robots.get(_url_host(url))
        if rules is None:
            return True
        # match target includes the query (RFC 9309/Google convention)
        path = parts.path or "/"
        if parts.query:
            path += "?" + parts.query
        deny_len = max(
            (
                len(p)
                for p in rules["deny_prefixes"]
                if robots_pattern_matches(p, path)
            ),
            default=0,
        )
        if deny_len == 0:
            return True
        allow_len = max(
            (
                len(p)
                for p in rules.get("allow_prefixes") or []
                if robots_pattern_matches(p, path)
            ),
            default=0,
        )
        return allow_len >= deny_len

    def _bloom_add(self, url: str) -> None:
        shard_id = murmur3_32(url) % self.num_shards
        shard = self.state.bloom.setdefault(shard_id, BloomShard())
        import numpy as np

        shard.add_hashes(np.array([xxhash64(url)], dtype=np.int64))

    # -- lifecycle -------------------------------------------------------
    def initialize(self, seeds: list[tuple[str, float, int]]) -> None:
        state = self.state
        for url, priority, seq in seeds:
            canonical = canonicalize_url(url)
            host = _url_host(canonical)
            state.frontier.append(
                (canonical, xxhash64(canonical), host, priority, seq, 0)
            )
            state.seen.add(canonical)
            self._bloom_add(canonical)
        for host, rules in self.robots.items():
            state.host_tokens[host] = INITIAL_TOKENS

    def run_wave(self) -> dict[str, Any]:
        state = self.state
        wave = state.wave

        # politeness dequeue: per-host total order + token bucket
        by_host: dict[str, list] = {}
        for row in state.frontier:
            by_host.setdefault(row[2], []).append(row)

        dequeued: list[tuple[str, int, str, float, int, int]] = []
        hosts_seen = set(by_host) | set(state.host_tokens)
        for host in hosts_seen:
            rules = self.robots.get(host)
            crawl_delay = rules["crawl_delay"] if rules else 1.0
            max_fetch = rules["max_fetch_per_wave"] if rules else 1
            tokens = state.host_tokens.get(host, INITIAL_TOKENS)
            tokens = refill_tokens(tokens, crawl_delay)
            candidates = sorted(
                by_host.get(host, []),
                key=lambda r: (-r[3], r[4], r[1], r[0]),
            )
            k = allowed_fetches(tokens, max_fetch, len(candidates))
            dequeued.extend(candidates[:k])
            state.host_tokens[host] = tokens - k

        dequeued_urls = {r[0] for r in dequeued}
        state.frontier = [r for r in state.frontier if r[0] not in dequeued_urls]

        # global within-wave order (pure function of the dequeued set)
        for row in sorted(dequeued, key=lambda r: (-r[3], r[4], r[1], r[0])):
            state.crawl_log.append((wave + 1, row[0]))

        # fetch + extract + canonicalize
        new_urls: dict[str, str] = {}
        for url, _, _, _, _, _ in dequeued:
            page_id = self.url_to_page.get(url)
            if page_id is None:
                continue  # fetch miss
            sel = Selector(text=self._html_of(page_id))
            for href in sel.css("a::attr(href)").getall():
                resolved = resolve_url(url, href)
                if resolved is None:
                    continue
                if resolved in new_urls:
                    continue
                new_urls[resolved] = resolved

        # robots + dedup vs seen (bloom prefilter mirrors the engine; it
        # cannot change results, only skip exact checks)
        priority = NEW_PRIORITY_BASE / float(wave + 2)
        added = 0
        for url in new_urls:
            if not self._robots_allowed(url):
                continue
            shard = self.state.bloom.get(murmur3_32(url) % self.num_shards)
            if shard is not None:
                import numpy as np

                maybe = bool(
                    shard.maybe_contains(np.array([xxhash64(url)], dtype=np.int64))[0]
                )
            else:
                maybe = False
            if maybe and url in self.state.seen:
                continue
            host = _url_host(url)
            h = xxhash64(url)
            state.frontier.append((url, h, host, priority, h, wave + 1))
            state.seen.add(url)
            self._bloom_add(url)
            added += 1

        state.wave = wave + 1
        return {
            "dequeued": len(dequeued),
            "new_urls": added,
            "links_extracted": len(new_urls),
        }

    def run(self, waves: int) -> list[dict[str, Any]]:
        out = []
        for _ in range(waves):
            metrics = self.run_wave()
            out.append(metrics)
            if metrics["dequeued"] == 0:
                break
        return out

    # -- results ---------------------------------------------------------
    def crawl_order(self) -> list[tuple[int, str]]:
        return list(self.state.crawl_log)

    def seen_set(self) -> set[str]:
        return set(self.state.seen)

    def bloom_shard_hashes(self) -> dict[int, int]:
        return {sid: s.content_hash() for sid, s in self.state.bloom.items()}
