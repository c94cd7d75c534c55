"""Deterministic synthetic web corpus (pages + seeds + robots).

Schema follows the driver's input hint exactly —
``(image_id, bytes, w, h, fmt, caption, phash)`` — plus the crawl columns
``(url, host, html)`` (FIXTURES.md §1).  All values derive from a
splitmix64-style mix of ``(seed, page_id, stream)`` so generation is
partition-independent: the same row is produced whether it is generated
on the driver (oracle crawler), in any Spark task, or at any
parallelism level.

Spark generation uses ``spark.range(n)`` + ``mapInArrow`` — distributed,
no driver-side materialization; at 10^10-page scale this is the same
pattern with more range partitions.
"""

from __future__ import annotations

from dataclasses import dataclass
from html import escape as _html_escape

import numpy as np
import pyarrow as pa

from ..functions.hashing import xxhash64
from ..functions.rows import arrow_schema
from .images import encode_image

_MASK = (1 << 64) - 1


def _mix(*parts: int) -> int:
    """splitmix64-style deterministic mixing of integer parts."""
    z = 0x9E3779B97F4A7C15
    for part in parts:
        z = (z + (part & _MASK) * 0xBF58476D1CE4E5B9) & _MASK
        z ^= z >> 30
        z = (z * 0x94D049BB133111EB) & _MASK
        z ^= z >> 31
    return z


_WORDS = [
    "alpha", "beta", "gamma", "delta", "omega", "lorem", "ipsum",
    "cumpleaños", "naïve", "crawl", "frontier", "image", "caption",
    "Q&A", "\"quoted\"", "<tagged>", "café", "pixel", "vector", "graph",
]

_FORMATS = ["png", "bmp", "jpeg"]


@dataclass(frozen=True)
class SynthConfig:
    n_pages: int = 1000
    n_hosts: int = 20
    out_degree: int = 8
    seed: int = 42
    zipf_s: float = 1.2
    closed_ratio_mod: int = 10  # 1/N pages live under a robots-denied prefix
    with_images: bool = True

    def cdf(self) -> np.ndarray:
        weights = 1.0 / np.arange(1, self.n_hosts + 1) ** self.zipf_s
        return np.cumsum(weights / weights.sum())


def host_of(i: int, cfg: SynthConfig, cdf: np.ndarray | None = None) -> int:
    if cdf is None:
        cdf = cfg.cdf()
    u = _mix(cfg.seed, i, 1) / float(1 << 64)
    return int(np.searchsorted(cdf, u))


def page_url(i: int, cfg: SynthConfig, cdf: np.ndarray | None = None) -> str:
    host = host_of(i, cfg, cdf)
    closed = _mix(cfg.seed, i, 2) % cfg.closed_ratio_mod == 0
    prefix = "closed" if closed else "page"
    return f"http://host-{host:03d}.test/{prefix}/{i}"


def out_links(i: int, cfg: SynthConfig) -> list[int]:
    degree = 1 + _mix(cfg.seed, i, 3) % cfg.out_degree
    return [
        (i * 31 + j * j * 17 + 7 + (_mix(cfg.seed, i, 40 + j) % cfg.n_pages))
        % cfg.n_pages
        for j in range(degree)
    ]


def trap_href(target_url: str, variant: int) -> str:
    """Un-canonical forms that all canonicalize back to ``target_url``
    (exercises RFC-3986 normalization, FIXTURES.md §1)."""
    scheme, rest = target_url.split("://", 1)
    host, path = rest.split("/", 1)
    path = "/" + path
    if variant == 1:
        return f"{scheme.upper()}://{host.upper()}{path}"
    if variant == 2:
        return f"{scheme}://{host}:80{path}"
    if variant == 3:
        head, _, leaf = path.rpartition("/")
        return f"{scheme}://{host}{head}/x/../{leaf}"
    if variant == 4:
        return f"{target_url}#fragment-{variant}"
    if variant == 5:
        # %61 = unreserved 'a' → must decode on canonicalization
        return f"{scheme}://{host}{path.replace('a', '%61', 1)}"
    return target_url


def caption_of(i: int, cfg: SynthConfig) -> str:
    k = 3 + _mix(cfg.seed, i, 4) % 4
    return " ".join(
        _WORDS[_mix(cfg.seed, i, 10 + j) % len(_WORDS)] for j in range(k)
    )


def image_meta(i: int, cfg: SynthConfig) -> tuple[int, int, str]:
    w = 16 + _mix(cfg.seed, i, 5) % 49  # 16..64: keep payloads small
    h = 16 + _mix(cfg.seed, i, 6) % 49
    fmt = _FORMATS[_mix(cfg.seed, i, 7) % len(_FORMATS)]
    return w, h, fmt


def image_pixels(i: int, w: int, h: int, cfg: SynthConfig) -> np.ndarray:
    """Deterministic pseudo-random pixels (vectorized, version-stable)."""
    base = _mix(cfg.seed, i, 8)
    ys, xs = np.mgrid[0:h, 0:w].astype(np.uint64)
    mixed = (
        (xs * np.uint64(0x9E3779B97F4A7C15) + ys * np.uint64(0xBF58476D1CE4E5B9))
        + np.uint64(base)
    )
    mixed ^= mixed >> np.uint64(29)
    mixed = mixed * np.uint64(0x94D049BB133111EB)
    mixed ^= mixed >> np.uint64(32)
    r = (mixed & np.uint64(0xFF)).astype(np.uint8)
    g = ((mixed >> np.uint64(8)) & np.uint64(0xFF)).astype(np.uint8)
    b = ((mixed >> np.uint64(16)) & np.uint64(0xFF)).astype(np.uint8)
    return np.stack([r, g, b], axis=-1)


def page_row(i: int, cfg: SynthConfig, cdf: np.ndarray | None = None) -> dict:
    """One fully-derived page row; the single source of truth shared by the
    Spark generator and the single-process oracle."""
    if cdf is None:
        cdf = cfg.cdf()
    host_idx = host_of(i, cfg, cdf)
    host = f"host-{host_idx:03d}.test"
    url = page_url(i, cfg, cdf)
    caption = caption_of(i, cfg)
    w, h, fmt = image_meta(i, cfg)
    image_id = f"img-{i:08d}"
    # phash derives from PIXELS (not container bytes) so it is identical
    # whether or not payload encoding is enabled (oracle runs with
    # with_images=False but must see byte-identical html)
    pixels = image_pixels(i, w, h, cfg)
    phash = xxhash64(pixels.tobytes())
    payload = encode_image(pixels, fmt) if cfg.with_images else b""

    esc = _html_escape(caption)
    targets = out_links(i, cfg)
    links_html = "\n".join(
        f'<li><a href="{_html_escape(trap_href(page_url(t, cfg, cdf), (i + j) % 6))}"'
        f' class="link out deg-{j}">link {j}</a></li>'
        for j, t in enumerate(targets)
    )
    json_block = (
        f'{{"image_id": "{image_id}", "phash": {phash}, '
        f'"w": {w}, "h": {h}, "fmt": "{fmt}"}}'
    )
    html = (
        f"<html><head><title>Page {i}</title></head>\n"
        f'<body>\n<div class="page host-{host_idx}" id="page-{i}">\n'
        f'<h1 class="title">{esc}</h1>\n'
        f'<img src="/img/{image_id}.{fmt}" alt="{esc}" width="{w}" height="{h}">\n'
        f'<p class="caption">{esc}</p>\n'
        f'<script type="application/json">{json_block}</script>\n'
        f'<ul class="links">\n{links_html}\n</ul>\n'
        f"</div>\n</body></html>"
    )
    return {
        "image_id": image_id,
        "bytes": bytes(payload),
        "w": int(w),
        "h": int(h),
        "fmt": fmt,
        "caption": caption,
        "phash": phash,
        "url": url,
        "host": host,
        "html": html,
    }


PAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, url string, host string, html string"
)


def synth_pages(spark, cfg: SynthConfig, num_partitions: int | None = None):
    """Distributed deterministic pages table (``mapInArrow`` emits
    whole rows; ``functions/rows.py`` yields one column)."""
    parts = num_partitions or spark.sparkContext.defaultParallelism
    schema = arrow_schema(PAGES_SCHEMA)

    def generate(batches):
        cdf = cfg.cdf()
        for batch in batches:
            rows = [page_row(i, cfg, cdf) for i in batch["id"].to_pylist()]
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    return (
        spark.range(0, cfg.n_pages, numPartitions=parts)
        .mapInArrow(generate, schema=PAGES_SCHEMA)
    )


def synth_seeds(spark, cfg: SynthConfig, n_seeds: int = 10, spread: bool = False):
    """Seed list: ``n_seeds`` page urls, descending priority.

    ``spread=True`` strides the seed page-ids across the whole corpus
    (page ``i*stride`` instead of the first ``n_seeds`` pages) so the
    seeds cover many hosts — the shape of a production seed list — and
    generates them distributed (driver never materializes the list;
    ``mapInArrow`` for the reason :func:`synth_pages` gives)."""
    if not spread:
        cdf = cfg.cdf()
        rows = [
            (page_url(i, cfg, cdf), float(n_seeds - i), i) for i in range(n_seeds)
        ]
        return spark.createDataFrame(rows, "url string, priority double, seq long")

    out_schema = "url string, priority double, seq long"
    schema = arrow_schema(out_schema)
    stride = max(1, cfg.n_pages // n_seeds)

    def generate(batches):
        cdf = cfg.cdf()
        for batch in batches:
            ids = batch["id"].to_pylist()
            yield pa.RecordBatch.from_pydict(
                {
                    "url": [
                        page_url(i * stride % cfg.n_pages, cfg, cdf) for i in ids
                    ],
                    "priority": [float(n_seeds - i) for i in ids],
                    "seq": ids,
                },
                schema=schema,
            )

    return spark.range(0, n_seeds).mapInArrow(generate, schema=out_schema)


def seed_rows(cfg: SynthConfig, n_seeds: int = 10) -> list[tuple[str, float, int]]:
    cdf = cfg.cdf()
    return [(page_url(i, cfg, cdf), float(n_seeds - i), i) for i in range(n_seeds)]


def robots_rows(cfg: SynthConfig, fast: bool = False) -> list[dict]:
    """Per-host robots rules: every host denies ``/closed``; crawl delay
    (token refill period, in waves) varies per host.  ``fast=True`` gives
    every host delay 1 / max fetch 8 — used by throughput benches so the
    engine, not the politeness budget, is the bottleneck."""
    return [
        {
            "host": f"host-{h:03d}.test",
            "allow_prefixes": ["/"],
            "deny_prefixes": ["/closed"],
            "crawl_delay": 1.0 if fast else float(1 + h % 3),
            "max_fetch_per_wave": 8 if fast else 1 + (h % 4),
        }
        for h in range(cfg.n_hosts)
    ]


def synth_robots(spark, cfg: SynthConfig, fast: bool = False):
    return spark.createDataFrame(
        robots_rows(cfg, fast=fast),
        "host string, allow_prefixes array<string>, deny_prefixes array<string>, "
        "crawl_delay double, max_fetch_per_wave int",
    )
