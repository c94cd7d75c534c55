"""Seeded benchmark inputs, cached on disk under ``.perfbench/cache``
keyed by workload, seed and size.  Generation is never timed.

* the page corpus of ``query_suite``: ``synth.page_row`` pages, one in
  ten padded to ~15 KB with nested blocks, entities, comments, tables
  and unclosed ``<td>``/``<p>`` tags (no links, no ``h1``), so the
  closed-form link targets and the title XPath are unchanged.
* ``crawl_backlog``: a ``synth_pages`` corpus written as parquet, plus
  the live seed list (a few seeds on every host).
"""

from __future__ import annotations

import json
import os
import random
from html import escape

from .common import CACHE_DIR, cores

LARGE_EVERY = 10
LARGE_BYTES = 15_000

_WORDS = (
    "crawl", "frontier", "parse", "selector", "wave", "seen", "bloom",
    "snapshot", "café", "naïve", "cumpleaños", "Q&A", "<tagged>",
    "\"quoted\"", "lorem", "ipsum", "vector", "graph",
)
_ENTITIES = ("&amp;", "&lt;b&gt;", "&eacute;", "&#233;", "&#x263A;", "&nbsp;", "&copy;")


def is_large(seed: int, i: int) -> bool:
    return random.Random(f"large:{seed}:{i}").randrange(LARGE_EVERY) == 0


def _padding(seed: int, i: int) -> str:
    rng = random.Random(f"pad:{seed}:{i}")

    def words(n: int) -> str:
        return " ".join(
            escape(rng.choice(_WORDS)) if rng.random() < 0.8 else rng.choice(_ENTITIES)
            for _ in range(n)
        )

    parts: list[str] = []
    size, block = 0, 0
    while size < LARGE_BYTES:
        rows = "".join(
            f"<tr><td>{words(3)}<td class=\"num\">{rng.randrange(10**6)}"
            for _ in range(rng.randrange(2, 6))
        )
        chunk = (
            f'<div class="block b{block}"><div class="inner">'
            f"<!-- block {block}: {words(2)} -->"
            f"<p>{words(rng.randrange(8, 30))}"
            f"<p><span>{words(5)}</span> <em>{words(3)}</em>"
            f"<section><div><p>{words(12)}</p></div></section>"
            f"<table>{rows}</table>"
            f"</div></div>\n"
        )
        parts.append(chunk)
        size += len(chunk)
        block += 1
    return "".join(parts)


def page_html(seed: int, i: int, cfg, cdf) -> tuple[str, str, bool]:
    """(url, html, large) for page ``i`` of the page corpus."""
    from parsel_spark.sources.synth import page_row

    row = page_row(i, cfg, cdf)
    html = row["html"]
    large = is_large(seed, i)
    if large:
        cut = html.rindex("</div>")
        html = html[:cut] + _padding(seed, i) + html[cut:]
    return row["url"], html, large


def pages_config(seed: int, n_pages: int):
    from parsel_spark.sources.synth import SynthConfig

    return SynthConfig(
        n_pages=n_pages, n_hosts=max(8, n_pages // 50), out_degree=12,
        seed=seed, with_images=False, zipf_s=0.5,
    )


def page_corpus(seed: int, n_pages: int) -> str:
    """Parquet file of (page_id, url, html, large); returns its path."""
    path = os.path.join(CACHE_DIR, f"pages-s{seed}-n{n_pages}.parquet")
    if os.path.exists(path):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    cfg = pages_config(seed, n_pages)
    cdf = cfg.cdf()
    rows = [page_html(seed, i, cfg, cdf) for i in range(n_pages)]
    table = pa.table(
        {
            "page_id": pa.array(range(n_pages), pa.int64()),
            "url": [r[0] for r in rows],
            "html": [r[1] for r in rows],
            "large": [r[2] for r in rows],
        }
    )
    _atomic_write(path, lambda tmp: pq.write_table(table, tmp))
    return path


def expected_links(seed: int, n_pages: int) -> list[str]:
    """Closed-form canonical link targets of the whole corpus."""
    from parsel_spark.sources.synth import out_links, page_url

    cfg = pages_config(seed, n_pages)
    cdf = cfg.cdf()
    return [
        page_url(t, cfg, cdf) for i in range(n_pages) for t in out_links(i, cfg)
    ]


def crawl_config(seed: int, size: dict):
    from parsel_spark.sources.synth import SynthConfig

    return SynthConfig(
        n_pages=size["pages"], n_hosts=size["hosts"], out_degree=12,
        seed=seed, with_images=False, zipf_s=0.5,
    )


def _crawl_rows(args) -> tuple[list[str], list[str]]:
    from parsel_spark.sources.synth import page_row

    seed, size, lo, hi = args
    cfg = crawl_config(seed, size)
    cdf = cfg.cdf()
    rows = [page_row(i, cfg, cdf) for i in range(lo, hi)]
    return [r["url"] for r in rows], [r["html"] for r in rows]


def crawl_inputs(seed: int, size: dict) -> tuple[str, list[str]]:
    """(corpus parquet file, live seed urls).  The corpus is the rows of
    ``synth_pages`` (``synth.page_row``), generated in worker processes
    before Spark starts.  Seeds are the first ``seeds_per_host`` pages
    of every host outside ``/closed``."""
    from parsel_spark.sources.synth import host_of, page_url

    key = f"crawl_backlog-s{seed}-n{size['pages']}-h{size['hosts']}"
    corpus = os.path.join(CACHE_DIR, key + ".parquet")
    seeds_path = os.path.join(CACHE_DIR, key + ".seeds.json")
    cfg = crawl_config(seed, size)
    if not os.path.exists(corpus):
        import multiprocessing
        from concurrent.futures import ProcessPoolExecutor

        import pyarrow as pa
        import pyarrow.parquet as pq

        n, step = cfg.n_pages, 1000
        chunks = [(seed, size, lo, min(lo + step, n)) for lo in range(0, n, step)]
        with ProcessPoolExecutor(
            cores(), mp_context=multiprocessing.get_context("fork")
        ) as pool:
            parts = list(pool.map(_crawl_rows, chunks))
        table = pa.table(
            {
                "url": [u for urls, _ in parts for u in urls],
                "html": [h for _, htmls in parts for h in htmls],
            }
        )
        _atomic_write(corpus, lambda tmp: pq.write_table(table, tmp))
    if not os.path.exists(seeds_path):
        cdf = cfg.cdf()
        per_host: dict[int, list[str]] = {}
        for i in range(cfg.n_pages):
            url = page_url(i, cfg, cdf)
            if "/closed/" in url:
                continue
            picked = per_host.setdefault(host_of(i, cfg, cdf), [])
            if len(picked) < size["seeds_per_host"]:
                picked.append(url)
        seeds = [u for h in sorted(per_host) for u in per_host[h]]
        _atomic_write(seeds_path, lambda tmp: _dump_json(tmp, seeds))
    with open(seeds_path) as fh:
        return corpus, json.load(fh)


def backlog_urls(size: dict) -> list[str]:
    """Known URLs on the corpus hosts that are not in the corpus."""
    hosts = size["hosts"]
    return [
        f"http://host-{j % hosts:03d}.test/gone/{j}" for j in range(size["backlog"])
    ]


def _dump_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh)


def _atomic_write(path: str, write) -> None:
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    write(tmp)
    os.replace(tmp, path)
