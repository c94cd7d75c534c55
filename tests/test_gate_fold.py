"""The bloom fold inside the wave's seen-set gate: the committed bloom
table equals a standalone ``bloom_update`` of every seen url, for any
commit interval; shard lineage hashes are Spark's ``xxhash64`` of the
bitmap; cuckoo shards do not depend on row arrival order."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from parsel_spark.functions.hashing import murmur3_32, xxhash64
from parsel_spark.operators import frontier as fr
from parsel_spark.operators.bloom import BloomShard, CuckooShard
from parsel_spark.plans.crawl import CrawlRun, lineage_rows
from parsel_spark.sources.snapshots import SnapshotCatalog

SHARDS = 64
PAGES = {
    "http://a.test/s": ["/p0", "/p1", "/p2", "/p3", "http://b.test/p0"],
    "http://a.test/p0": ["/q0"],
    "http://a.test/p1": ["/q1"],
    "http://a.test/p2": ["/q2"],
    "http://a.test/p3": ["/q3"],
    "http://b.test/p0": ["/q0", "/q1"],
}
ALLOWED = set(PAGES) | {
    f"http://a.test/q{i}" for i in range(4)
} | {"http://b.test/q0", "http://b.test/q1"}


def _shard(url: str) -> int:
    return murmur3_32(url) % SHARDS


def _denied_url() -> str:
    """A robots-denied link whose shard holds no allowed url, so no
    committed row, pending row or new url ever lands in it."""
    used = {_shard(u) for u in ALLOWED}
    for i in range(1000):
        url = f"http://a.test/private/{i}"
        if _shard(url) not in used:
            return url
    raise AssertionError("no free shard")


DENIED = _denied_url()


def _crawl(spark, tmp_path, name: str, **kwargs) -> tuple[CrawlRun, list]:
    links = {**PAGES, "http://a.test/s": [*PAGES["http://a.test/s"], DENIED]}
    pages = spark.createDataFrame(
        [
            (url, "<html><body>" + "".join(
                f'<a href="{href}">x</a>' for href in hrefs
            ) + "</body></html>")
            for url, hrefs in links.items()
        ],
        "url string, html string",
    )
    robots = spark.createDataFrame(
        [("a.test", [], ["/private"], 1.0, 10), ("b.test", [], [], 1.0, 10)],
        "host string, allow_prefixes array<string>, "
        "deny_prefixes array<string>, crawl_delay double, "
        "max_fetch_per_wave int",
    )
    seeds = spark.createDataFrame(
        [("http://a.test/s", 1.0, 0)], "url string, priority double, seq long"
    )
    run = CrawlRun(
        spark, SnapshotCatalog(str(tmp_path / name)), pages, robots,
        num_shards=SHARDS, **kwargs,
    )
    run.initialize(seeds)
    return run, run.run(4)


def _rows(df) -> list[tuple]:
    return sorted(
        tuple(r)
        for r in df.select("shard_id", "bitmap", "n_items", "shard_hash").collect()
    )


@pytest.mark.parametrize("interval", [1, 3])
def test_committed_bloom_equals_standalone_fold(spark, tmp_path, interval):
    run, metrics = _crawl(
        spark, tmp_path, f"k{interval}", checkpoint_interval=interval
    )
    # wave 1 fetched the seed page: its denied link reached the gate
    assert metrics[0]["links_extracted"] == metrics[0]["new_urls"] + 1
    seen = run.seen_set()
    assert DENIED not in seen and seen <= ALLOWED

    catalog = run.catalog
    committed = _rows(catalog.read_table(spark, "bloom"))
    refolded = _rows(
        fr.bloom_update(
            catalog.read_table(spark, "seen"),
            spark.createDataFrame([], fr.BLOOM_SCHEMA),
            SHARDS,
        )
    )
    assert committed == refolded
    # exactly the shards holding a seen url: the denied link's shard
    # got no row
    assert [r[0] for r in committed] == sorted({_shard(u) for u in seen})
    assert _shard(DENIED) not in {r[0] for r in committed}
    assert catalog.load_snapshot().lineage == [
        {"partition_id": r[0], "bloom_shard_hash": r[3], "n_items": r[2]}
        for r in committed
    ]


def test_gate_emits_each_candidates_own_hash(spark):
    """Every candidate row the gate emits carries Spark's
    ``xxhash64(url)``, 64-bit values above 2^53 included, in a wave
    whose shards also receive pending rows; pending urls are flagged
    seen and never emitted."""
    urls = [f"http://a.test/g{i}" for i in range(40)]
    candidates = spark.createDataFrame(
        [(u, "a.test") for u in urls[:30] + urls[:3]], "url string, host string"
    ).withColumn("url_hash", F.xxhash64("url"))
    pending = spark.createDataFrame([(u,) for u in urls[25:]], "url string")
    state = fr.seen_state_table(
        spark.createDataFrame([], "url string"),
        spark.createDataFrame([], fr.BLOOM_SCHEMA),
        2,
        2,
    )
    rows = (
        fr.shard_gate(candidates, state, 2, pending=pending)
        .filter(F.col("bitmap").isNull())
        .select("url", "url_hash", "is_seen", F.xxhash64("url").alias("want"))
        .collect()
    )
    assert sorted(r["url"] for r in rows) == sorted(urls[:30])
    assert [r["url"] for r in rows if r["url_hash"] != r["want"]] == []
    assert any(abs(r["url_hash"]) > 2**53 for r in rows)
    assert {r["url"] for r in rows if r["is_seen"]} == set(urls[25:30])


def test_cuckoo_runs_give_identical_lineage(spark, tmp_path):
    first, m1 = _crawl(
        spark, tmp_path, "c2", filter_kind="cuckoo", frontier_partitions=2
    )
    second, m2 = _crawl(
        spark, tmp_path, "c3", filter_kind="cuckoo", frontier_partitions=3
    )
    assert m1 == m2
    assert first.catalog.load_snapshot().lineage == (
        second.catalog.load_snapshot().lineage
    )


def test_cuckoo_fold_ignores_arrival_order():
    hashes = np.array([xxhash64(f"u{i}") for i in range(60)], dtype=np.int64)
    tables = []
    for order in (hashes, hashes[::-1]):
        shard = CuckooShard(n_buckets=16)
        fr._fold(shard, order)
        tables.append(shard.to_bytes())
    assert tables[0] == tables[1]


def test_lineage_rows_dedupes_retried_shards():
    observed = [
        {"shard_id": 3, "shard_hash": -7, "n_items": 2},
        {"shard_id": 1, "shard_hash": 11, "n_items": 5},
        {"shard_id": 3, "shard_hash": -7, "n_items": 2},  # retried task
        {"shard_id": 1, "shard_hash": 11, "n_items": 5},
    ]
    assert lineage_rows(observed) == [
        {"partition_id": 1, "bloom_shard_hash": 11, "n_items": 5},
        {"partition_id": 3, "bloom_shard_hash": -7, "n_items": 2},
    ]


@pytest.mark.parametrize("size", [0, 1, 31, 32, 33, 128 * 1024])
def test_spark_xxhash64_matches_shard_content_hash(spark, size):
    payload = bytes((i * 131 + 7) % 256 for i in range(size))
    spark_hash = (
        spark.createDataFrame([(payload,)], "b binary")
        .select(F.xxhash64("b"))
        .first()[0]
    )
    assert spark_hash == xxhash64(payload)
    assert spark_hash == BloomShard(m_bits=8 * size, bitmap=payload).content_hash()
    if size % CuckooShard.BUCKET_SIZE == 0:
        cuckoo = CuckooShard(
            n_buckets=size // CuckooShard.BUCKET_SIZE, table=payload
        )
        assert spark_hash == cuckoo.content_hash()
