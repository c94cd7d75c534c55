"""Cuckoo-backed seen-set: exact crawl parity (the approximate filter
must never change results) and deletion support (forget + re-discovery),
which the bloom backend cannot provide."""

from __future__ import annotations

import pytest

from parsel_spark.plans.crawl import CrawlRun
from parsel_spark.plans.oracle import OracleCrawler
from parsel_spark.sources.snapshots import SnapshotCatalog
from parsel_spark.sources.synth import (
    SynthConfig,
    seed_rows,
    synth_pages,
    synth_robots,
    synth_seeds,
)

CFG = SynthConfig(n_pages=150, n_hosts=6, out_degree=5, seed=11, with_images=False)
N_SEEDS = 6
SHARDS = 8


def test_cuckoo_backend_exact_parity_and_forget(spark, tmp_path) -> None:
    pages = synth_pages(spark, CFG).cache()
    robots = synth_robots(spark, CFG)
    seeds = synth_seeds(spark, CFG, n_seeds=N_SEEDS)

    oracle = OracleCrawler(CFG, num_shards=SHARDS)
    oracle.initialize(seed_rows(CFG, n_seeds=N_SEEDS))
    oracle.run(2)

    run = CrawlRun(
        spark, SnapshotCatalog(str(tmp_path)), pages, robots,
        num_shards=SHARDS, filter_kind="cuckoo",
    )
    run.initialize(seeds)
    run.run(2)

    # the filter backend must be invisible to results
    assert run.crawl_order() == oracle.crawl_order()
    assert run.seen_set() == oracle.seen_set()

    # forget some crawled URLs → they leave the seen set
    seen_before = run.seen_set()
    victims = sorted(seen_before)[:3]
    forget_df = spark.createDataFrame([(u,) for u in victims], ["url"])
    n = run.forget(forget_df)
    assert n == 3
    seen_after = run.seen_set()
    assert seen_after == seen_before - set(victims)

    # the crawl keeps running after a deletion commit; re-discovered
    # forgotten URLs re-enter the seen set as new
    metrics = run.run(1)[0]
    assert metrics["dequeued"] >= 0
    rediscovered = set(victims) & run.seen_set()
    assert run.seen_set() >= seen_after
    # at least the bookkeeping is consistent: anything re-seen was
    # counted as new in this wave
    assert len(rediscovered) <= metrics["new_urls"]

    # bloom backend refuses deletions
    bloom_run = CrawlRun(
        spark, SnapshotCatalog(str(tmp_path / "b")), pages, robots,
        num_shards=SHARDS, filter_kind="bloom",
    )
    bloom_run.initialize(seeds)
    with pytest.raises(ValueError, match="cuckoo"):
        bloom_run.forget(forget_df)
    pages.unpersist()
