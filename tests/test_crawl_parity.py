"""Distributed-crawl correctness: exact crawl order + URL-seen set vs
the single-process oracle, and bit-identical resume from a snapshot
(north rule; BASELINE.md rows "crawl ordering", "final URL-seen set",
"resumability")."""

from __future__ import annotations

import threading

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

CFG = SynthConfig(n_pages=200, n_hosts=8, out_degree=5, seed=42, with_images=False)
N_SEEDS = 8
WAVES = 3
SHARDS = 16


@pytest.fixture(scope="module")
def corpus(spark):
    pages = synth_pages(spark, CFG).cache()
    pages.count()
    robots = synth_robots(spark, CFG)
    seeds = synth_seeds(spark, CFG, n_seeds=N_SEEDS)
    return pages, robots, seeds


@pytest.fixture(scope="module")
def oracle_result():
    oracle = OracleCrawler(CFG, num_shards=SHARDS)
    oracle.initialize(seed_rows(CFG, n_seeds=N_SEEDS))
    metrics = oracle.run(WAVES)
    return oracle, metrics


def test_crawl_exact_parity(spark, corpus, oracle_result, tmp_path) -> None:
    pages, robots, seeds = corpus
    oracle, oracle_metrics = oracle_result

    catalog = SnapshotCatalog(str(tmp_path))
    run = CrawlRun(spark, catalog, pages, robots, num_shards=SHARDS)
    run.initialize(seeds)
    # initialize commits the wave-0 counters with the snapshot itself;
    # frontier_rows is what the first run() feeds the window choice
    assert catalog.load_snapshot().metrics == {
        "dequeued": 0,
        "new_urls": N_SEEDS,
        "fetched": 0,
        "frontier_rows": N_SEEDS,
        "urls_emitted": N_SEEDS,
        "urls_dequeued": 0,
    }
    metrics = run.run(WAVES)

    assert metrics == oracle_metrics
    assert run.crawl_order() == oracle.crawl_order()
    assert run.seen_set() == oracle.seen_set()

    # the window choice: unknown depth salts wave 1; every later wave
    # follows the previous snapshot's deepest host vs its fair share
    history = [s.metrics for s in catalog.history()]
    assert history[1]["politeness"] == "salted"
    for before, after in zip(history[1:], history[2:]):
        skewed = (
            before["max_host_rows"]
            > before["frontier_rows"] / run.frontier_partitions
        )
        assert after["politeness"] == ("salted" if skewed else "plain")


def test_micro_batched_commits_exact_parity(
    spark, corpus, oracle_result, tmp_path
) -> None:
    """checkpoint_interval=2 over 3 waves (one full batch + one partial
    final batch): bloom folds lazily once per commit and state stays
    in memory between commits — crawl order, seen set and bloom shard
    hashes must still match the oracle exactly."""
    pages, robots, seeds = corpus
    oracle, oracle_metrics = oracle_result

    catalog = SnapshotCatalog(str(tmp_path / "batched"))
    run = CrawlRun(
        spark, catalog, pages, robots, num_shards=SHARDS, checkpoint_interval=2
    )
    run.initialize(seeds)
    metrics = run.run(WAVES)

    assert metrics == oracle_metrics
    assert run.crawl_order() == oracle.crawl_order()
    assert run.seen_set() == oracle.seen_set()
    snapshot = catalog.load_snapshot()
    engine_hashes = {
        row["partition_id"]: row["bloom_shard_hash"] for row in snapshot.lineage
    }
    assert engine_hashes == oracle.bloom_shard_hashes()
    # 3 waves at interval 2 → snapshots at wave 0, 2, 3
    assert [s.wave for s in catalog.history()] == [0, 2, 3]


def test_resume_bit_identical(spark, corpus, oracle_result, tmp_path) -> None:
    """Kill after 2 waves; a NEW CrawlRun resumes from the snapshot and
    the final state matches a never-killed run exactly — including the
    bloom shard content hashes recorded in lineage."""
    pages, robots, seeds = corpus
    oracle, _ = oracle_result

    catalog = SnapshotCatalog(str(tmp_path / "resumed"))
    first = CrawlRun(spark, catalog, pages, robots, num_shards=SHARDS)
    first.initialize(seeds)
    first.run(2)
    del first  # "kill"

    resumed = CrawlRun(
        spark, SnapshotCatalog(str(tmp_path / "resumed")), pages, robots,
        num_shards=SHARDS,
    )
    resumed.run(WAVES - 2)

    assert resumed.crawl_order() == oracle.crawl_order()
    assert resumed.seen_set() == oracle.seen_set()

    # lineage: bloom shard hashes must match the oracle's bit-for-bit
    snapshot = catalog.load_snapshot()
    engine_hashes = {
        row["partition_id"]: row["bloom_shard_hash"] for row in snapshot.lineage
    }
    oracle_hashes = oracle.bloom_shard_hashes()
    assert engine_hashes == oracle_hashes

    # snapshot history chain is intact (parent pointers + waves)
    history = catalog.history()
    assert [s.wave for s in history] == list(range(WAVES + 1))
    assert all(
        s.parent_id == (None if i == 0 else history[i - 1].snapshot_id)
        for i, s in enumerate(history)
    )


def test_frontier_partitions_equivalence(
    spark, corpus, oracle_result, tmp_path
) -> None:
    """Physical choices are never semantic ones: an arbitrary
    frontier_partitions count must produce the exact oracle crawl order
    / seen set / metrics / bloom lineage that the default
    (parallelism-sized partitioning) produces."""
    pages, robots, seeds = corpus
    oracle, oracle_metrics = oracle_result

    catalog = SnapshotCatalog(str(tmp_path / "odd-partitions"))
    run = CrawlRun(
        spark, catalog, pages, robots, num_shards=SHARDS,
        checkpoint_interval=2, frontier_partitions=3,
    )
    run.initialize(seeds)
    metrics = run.run(WAVES)

    assert metrics == oracle_metrics
    assert run.crawl_order() == oracle.crawl_order()
    assert run.seen_set() == oracle.seen_set()
    snapshot = catalog.load_snapshot()
    engine_hashes = {
        row["partition_id"]: row["bloom_shard_hash"]
        for row in snapshot.lineage
    }
    assert engine_hashes == oracle.bloom_shard_hashes()


def test_reliable_checkpoint_equivalence(
    spark, corpus, oracle_result, tmp_path
) -> None:
    """reliable ``checkpoint()`` lineage truncation (the cluster-FS mode
    for surviving executor loss between commits) must be byte-equivalent
    to the default executor-local ``localCheckpoint``."""
    pages, robots, seeds = corpus
    oracle, oracle_metrics = oracle_result

    catalog = SnapshotCatalog(str(tmp_path / "reliable"))
    run = CrawlRun(
        spark, catalog, pages, robots, num_shards=SHARDS,
        checkpoint_interval=2, reliable_checkpoints=True,
    )
    run.initialize(seeds)
    metrics = run.run(WAVES)

    assert metrics == oracle_metrics
    assert run.crawl_order() == oracle.crawl_order()
    assert run.seen_set() == oracle.seen_set()

    # the wave-output pins (flagged / new_urls) must ALSO live in the
    # cluster checkpoint dir in this mode — the pending deltas carried
    # between commits derive from them, so executor-local pins would
    # defeat the option's executor-loss guarantee
    import os

    ckpt_dir = spark.sparkContext.getCheckpointDir()
    assert ckpt_dir is not None
    ckpt_path = ckpt_dir[len("file:"):] if ckpt_dir.startswith("file:") else ckpt_dir
    # getCheckpointDir already includes the per-context uuid subdir;
    # reliable checkpoints land directly under it as rdd-<id>/
    rdd_dirs = [d for d in os.listdir(ckpt_path) if d.startswith("rdd-")]
    # 3 waves × 2 eager pins + lazy frontier/host-state truncations
    assert len(rdd_dirs) >= 2 * WAVES


def test_reliable_checkpoints_stay_under_catalog(
    spark, corpus, tmp_path, monkeypatch
) -> None:
    """With no checkpoint dir set, a reliable-checkpoint crawl puts its
    checkpoints under the caller's catalog and creates nothing in the
    temp dir (a temp dir nobody deletes would outlive every crawl)."""
    import os
    import tempfile

    pages, robots, seeds = corpus
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmpdir))
    sc = spark.sparkContext._jsc.sc()
    before = sc.checkpointDir()
    getattr(sc, "checkpointDir_$eq")(spark._jvm.scala.Option.apply(None))
    try:
        catalog = SnapshotCatalog(str(tmp_path / "catalog"))
        run = CrawlRun(
            spark, catalog, pages, robots, num_shards=SHARDS,
            reliable_checkpoints=True,
        )
        run.initialize(seeds)
        run.run(1)
        ckpt_dir = spark.sparkContext.getCheckpointDir()
    finally:
        getattr(sc, "checkpointDir_$eq")(before)
    assert list(tmpdir.iterdir()) == []
    path = ckpt_dir.removeprefix("file:")
    assert path.startswith(os.path.join(catalog.root, "checkpoints"))
    assert any(d.startswith("rdd-") for d in os.listdir(path))


class _SpyCatalog(SnapshotCatalog):
    """Records, per commit, the calling thread, its job description and
    the number of commits running at once."""

    def __init__(self, root: str, spark) -> None:
        super().__init__(root)
        self.spark = spark
        self.calls: list[tuple[int, str, str | None]] = []
        self.running = 0
        self.max_running = 0
        self._lock = threading.Lock()

    def commit(self, *args, **kwargs):
        with self._lock:
            self.running += 1
            self.max_running = max(self.max_running, self.running)
        try:
            self.calls.append(
                (
                    kwargs["wave"],
                    threading.current_thread().name,
                    self.spark.sparkContext.getLocalProperty(
                        "spark.job.description"
                    ),
                )
            )
            return super().commit(*args, **kwargs)
        finally:
            with self._lock:
                self.running -= 1


class _SpyRun(CrawlRun):
    """Records the job description each gate-state cache is built
    under, with the building thread."""

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.gate_builds: list[tuple[str, str | None]] = []

    def _committed_gate_state(self):
        self.gate_builds.append(
            (
                threading.current_thread().name,
                self.spark.sparkContext.getLocalProperty("spark.job.description"),
            )
        )
        return super()._committed_gate_state()


@pytest.mark.parametrize("interval", [1, 2])
def test_committer_serializes_and_labels_commits(
    spark, corpus, oracle_result, tmp_path, interval
) -> None:
    """Every commit of run() goes through the one committer thread: the
    snapshots chain parent to parent, two commits never overlap, the
    committer's jobs carry ``wave N: commit``, and each snapshot's
    phase timers are floats summed over its batch."""
    from parsel_spark.plans.crawl import PHASE_TIMERS

    pages, robots, seeds = corpus
    oracle, oracle_metrics = oracle_result
    catalog = _SpyCatalog(str(tmp_path / f"spy{interval}"), spark)
    run = _SpyRun(
        spark, catalog, pages, robots, num_shards=SHARDS,
        checkpoint_interval=interval,
    )
    run.initialize(seeds)
    metrics = run.run(WAVES)

    assert metrics == oracle_metrics
    assert run.crawl_order() == oracle.crawl_order()
    waves = [0, 1, 2, 3] if interval == 1 else [0, 2, 3]
    history = catalog.history()
    assert [s.wave for s in history] == waves
    assert [s.snapshot_id for s in history] == list(range(1, len(waves) + 1))
    assert [s.parent_id for s in history] == [None, *range(1, len(waves))]

    assert catalog.max_running == 1
    init_call, *run_calls = catalog.calls
    assert init_call == (0, threading.current_thread().name, "wave 0: initialize")
    assert [(w, d) for w, _t, d in run_calls] == [
        (w, f"wave {w}: commit") for w in waves[1:]
    ]
    committer = {t for _w, t, _d in run_calls}
    assert len(committer) == 1 and committer != {threading.current_thread().name}
    # run() builds the first gate cache itself; every commit but the
    # last builds the next one on the committer, under its description
    assert run.gate_builds[1:] == [
        (t, f"wave {w}: commit") for w, t, _d in run_calls[:-1]
    ]

    # the snapshot initialize writes and the per-wave dicts are unchanged
    assert set(history[0].metrics).isdisjoint(PHASE_TIMERS)
    assert all(set(m) == {"dequeued", "new_urls", "links_extracted"} for m in metrics)
    for snapshot in history[1:]:
        for key in PHASE_TIMERS:
            assert isinstance(snapshot.metrics[key], float), key
            assert snapshot.metrics[key] >= 0.0, key


class _FailingCatalog(SnapshotCatalog):
    """Fails its third commit after the data and metadata writes, before
    the pointer swap."""

    def __init__(self, root: str) -> None:
        super().__init__(root)
        self.n_commits = 0

    def commit(self, *args, **kwargs):
        self.n_commits += 1
        return super().commit(*args, **kwargs)

    def _set_current(self, snapshot_id: int) -> None:
        if self.n_commits == 3:
            raise RuntimeError("planted commit failure")
        super()._set_current(snapshot_id)


def test_committer_failure_raises_and_resumes(
    spark, corpus, oracle_result, tmp_path
) -> None:
    """A failed background commit surfaces from run(), leaves ``current``
    on the last good snapshot, stops every later commit, and a fresh run
    on the same root resumes to the oracle's final state."""
    pages, robots, seeds = corpus
    oracle, _ = oracle_result
    root = str(tmp_path / "failing")
    catalog = _FailingCatalog(root)
    run = CrawlRun(spark, catalog, pages, robots, num_shards=SHARDS)
    run.initialize(seeds)
    with pytest.raises(RuntimeError, match="planted commit failure"):
        run.run(WAVES)
    assert catalog.n_commits == 3
    assert catalog.current_snapshot_id() == 2
    assert catalog.load_snapshot().wave == 1

    resumed = CrawlRun(
        spark, SnapshotCatalog(root), pages, robots, num_shards=SHARDS
    )
    resumed.run(WAVES - 1)
    assert resumed.crawl_order() == oracle.crawl_order()
    assert resumed.seen_set() == oracle.seen_set()
    engine_hashes = {
        row["partition_id"]: row["bloom_shard_hash"]
        for row in resumed.catalog.load_snapshot().lineage
    }
    assert engine_hashes == oracle.bloom_shard_hashes()


def test_politeness_split_deep_host_keeps_pruned_rows(spark) -> None:
    """A host whose frontier depth exceeds the salt pass's retention
    bound (16 salt buckets × MAX_FETCH_CAP = 128 rows) must still see
    EVERY row in the flagged output — the pre-pruned rows rejoin as
    ``dequeued = false`` (they are provably never admitted), they are
    not silently dropped from the frontier."""
    from parsel_spark.operators import frontier as fr

    n_rows = 300  # > DEQUEUE_SALT_BUCKETS * MAX_FETCH_CAP
    assert n_rows > fr.DEQUEUE_SALT_BUCKETS * fr.MAX_FETCH_CAP
    rows = [
        (f"http://deep.test/p/{i}", i * 7919 % 100_000 - 50_000,
         "deep.test", 1.0, i, 0)
        for i in range(n_rows)
    ]
    frontier = spark.createDataFrame(rows, fr.FRONTIER_SCHEMA)
    host_state = spark.createDataFrame(
        [("deep.test", fr.INITIAL_TOKENS, 1.0, 8)], fr.HOST_STATE_SCHEMA
    )
    plain = fr.politeness_split(frontier, host_state, skew_prune=False)
    salted = fr.politeness_split(frontier, host_state, skew_prune=True)
    plain_rows = {tuple(r) for r in plain.collect()}
    salted_rows = {tuple(r) for r in salted.collect()}
    assert len(salted_rows) == n_rows  # nothing dropped
    assert salted_rows == plain_rows  # identical flags row-for-row


def test_skew_prune_deep_frontier_exact_parity(spark, tmp_path) -> None:
    """End-to-end guard for the salt-prune branch: a 2-host corpus whose
    per-host frontier depth exceeds 16×MAX_FETCH_CAP (asserted via the
    oracle's own frontier) must still match the oracle's crawl order /
    seen set exactly — with the window choice salting every wave: each
    host holds about half the frontier, far above a task's share."""
    from parsel_spark.operators import frontier as fr

    deep_cfg = SynthConfig(
        n_pages=600, n_hosts=2, out_degree=8, seed=7, with_images=False
    )
    n_seeds, waves = 200, 3
    oracle = OracleCrawler(deep_cfg, num_shards=SHARDS)
    oracle.initialize(seed_rows(deep_cfg, n_seeds=n_seeds))
    depths = []
    oracle_metrics = []
    for _ in range(waves):
        from collections import Counter

        per_host = Counter(row[2] for row in oracle.state.frontier)
        depths.append(max(per_host.values()))
        oracle_metrics.append(oracle.run_wave())
    assert max(depths) > fr.DEQUEUE_SALT_BUCKETS * fr.MAX_FETCH_CAP, (
        "corpus too shallow — pruned branch not exercised"
    )

    pages = synth_pages(spark, deep_cfg)
    robots = synth_robots(spark, deep_cfg)
    seeds = synth_seeds(spark, deep_cfg, n_seeds=n_seeds)
    run = CrawlRun(
        spark, SnapshotCatalog(str(tmp_path / "deep")), pages, robots,
        num_shards=SHARDS, frontier_partitions=4,
    )
    run.initialize(seeds)
    metrics = run.run(waves)
    assert metrics == oracle_metrics
    assert run.crawl_order() == oracle.crawl_order()
    assert run.seen_set() == oracle.seen_set()
    # the salted window's depth is an upper bound of the deepest host
    history = [s.metrics for s in run.catalog.history()[1:]]
    assert [m["politeness"] for m in history] == ["salted"] * waves
    assert all(m["max_host_rows"] >= d for m, d in zip(history, depths))


def test_broad_frontier_takes_plain_window(spark, tmp_path) -> None:
    """On a frontier spread over many hosts the window choice drops the
    salt pass from wave 2 on (wave 1 salts: the deepest host is not
    known yet), each snapshot records the deepest host's exact row
    count (nothing was pruned), and the crawl still matches the
    oracle."""
    from collections import Counter

    broad_cfg = SynthConfig(
        n_pages=200, n_hosts=20, out_degree=5, seed=42, with_images=False,
        zipf_s=0.0,
    )
    n_seeds, waves = 20, 3
    oracle = OracleCrawler(broad_cfg, num_shards=SHARDS)
    oracle.initialize(seed_rows(broad_cfg, n_seeds=n_seeds))
    depths, oracle_metrics = [], []
    for _ in range(waves):
        per_host = Counter(row[2] for row in oracle.state.frontier)
        depths.append(max(per_host.values()))
        oracle_metrics.append(oracle.run_wave())

    catalog = SnapshotCatalog(str(tmp_path / "broad"))
    run = CrawlRun(
        spark, catalog, synth_pages(spark, broad_cfg),
        synth_robots(spark, broad_cfg), num_shards=SHARDS,
        frontier_partitions=4,
    )
    run.initialize(synth_seeds(spark, broad_cfg, n_seeds=n_seeds))
    assert run.run(waves) == oracle_metrics
    assert run.crawl_order() == oracle.crawl_order()
    history = [s.metrics for s in catalog.history()[1:]]
    assert [m["politeness"] for m in history] == ["salted", "plain", "plain"]
    assert [m["max_host_rows"] for m in history] == depths


def test_respect_nofollow_prunes_discovery(spark, tmp_path) -> None:
    """CrawlRun(respect_nofollow=True): a rel=nofollow anchor is never
    discovered and a meta-robots-nofollow page contributes no links —
    the default run crawls the full graph from the same corpus."""
    from parsel_spark.plans.crawl import CrawlRun
    from parsel_spark.sources.snapshots import SnapshotCatalog

    def page(url, html):
        return (url, None, 0, 0, "png", "", 0, url,
                "a.test", html)

    rows = [
        page("http://a.test/s",
             '<html><body><a href="/x">x</a>'
             '<a rel="nofollow" href="/y">y</a></body></html>'),
        page("http://a.test/x",
             '<html><head><meta name="robots" content="nofollow"></head>'
             '<body><a href="/z">z</a></body></html>'),
        page("http://a.test/y",
             '<html><body><a href="/w">w</a></body></html>'),
        page("http://a.test/z", "<html><body>leaf</body></html>"),
        page("http://a.test/w", "<html><body>leaf</body></html>"),
    ]
    schema = ("image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash long, url string, host string, "
              "html string")
    pages = spark.createDataFrame(rows, schema)
    robots = spark.createDataFrame(
        [("a.test", ["/"], [], 1.0, 10)],
        "host string, allow_prefixes array<string>, "
        "deny_prefixes array<string>, crawl_delay double, "
        "max_fetch_per_wave int",
    )
    seeds = spark.createDataFrame(
        [("http://a.test/s", 1.0, 0)], "url string, priority double, seq long"
    )

    polite = CrawlRun(
        spark, SnapshotCatalog(str(tmp_path / "nf")), pages, robots,
        num_shards=4, respect_nofollow=True,
    )
    polite.initialize(seeds)
    polite.run(4)
    assert polite.seen_set() == {"http://a.test/s", "http://a.test/x"}

    full = CrawlRun(
        spark, SnapshotCatalog(str(tmp_path / "full")), pages, robots,
        num_shards=4,
    )
    full.initialize(seeds)
    full.run(4)
    assert full.seen_set() == {
        "http://a.test/s", "http://a.test/x", "http://a.test/y",
        "http://a.test/z", "http://a.test/w",
    }


def test_recrawl_due_branches(spark) -> None:
    """Never-fetched always due; change-after-fetch due regardless of
    backoff; unchanged pages back off exponentially with the interval
    clamped at max; overdue_s is 0 for not-due rows."""
    from parsel_spark.operators.frontier import recrawl_due

    rows = [
        # url, last_fetch, last_change, unchanged_count
        ("u-never", None, None, 0),
        ("u-changed", 1000, 1500, 10),     # change after fetch -> due
        ("u-fresh", 1900, 1800, 0),        # elapsed 100 < 100*2^0? ==
        ("u-backoff", 1000, 900, 3),       # interval 800, elapsed 1000
        ("u-deep", 1000, 900, 60),         # clamp: interval = max
    ]
    df = spark.createDataFrame(
        rows,
        "url string, last_fetch_ts long, last_change_ts long, "
        "unchanged_count int",
    )
    out = {r["url"]: r for r in
           recrawl_due(df, now_ts=2000, min_interval_s=100,
                       max_interval_s=1600).collect()}
    assert out["u-never"]["due"] and out["u-never"]["overdue_s"] == 2000
    assert out["u-changed"]["due"]
    # elapsed 100 >= interval 100 -> due exactly at the boundary
    assert out["u-fresh"]["due"] and out["u-fresh"]["overdue_s"] == 0
    assert out["u-backoff"]["interval_s"] == 800
    assert out["u-backoff"]["due"]
    assert out["u-backoff"]["overdue_s"] == 200
    assert out["u-deep"]["interval_s"] == 1600  # clamped, no overflow
    assert not out["u-deep"]["due"]  # elapsed 1000 < clamped 1600
    assert out["u-deep"]["overdue_s"] == 0

    not_due = recrawl_due(
        df, now_ts=1100, min_interval_s=100, max_interval_s=1600
    )
    nd = {r["url"]: r for r in not_due.collect()}
    assert not nd["u-backoff"]["due"] and nd["u-backoff"]["overdue_s"] == 0


def test_recrawl_due_bad_intervals_raise(spark) -> None:
    import pytest as _pytest

    from parsel_spark.operators.frontier import recrawl_due

    df = spark.createDataFrame(
        [("u", 1, 1, 0)],
        "url string, last_fetch_ts long, last_change_ts long, "
        "unchanged_count int",
    )
    with _pytest.raises(ValueError):
        recrawl_due(df, now_ts=10, min_interval_s=0)
    with _pytest.raises(ValueError):
        recrawl_due(df, now_ts=10, min_interval_s=100, max_interval_s=50)


def test_snapshot_delta_statuses(spark) -> None:
    """new/changed/unchanged/gone classification + revisit-state update."""
    from parsel_spark.operators.frontier import snapshot_delta

    old = spark.createDataFrame(
        [
            ("u1", "d1", 3),   # same digest in new -> unchanged, count 4
            ("u2", "d2", 5),   # new digest -> changed, count 0
            ("u3", "d3", 1),   # absent from new -> gone, count NULL
        ],
        "url string, digest string, unchanged_count int",
    )
    new = spark.createDataFrame(
        [("u1", "d1"), ("u2", "dX"), ("u4", "d4")],
        "url string, digest string",
    )
    got = {
        r["url"]: (r["status"], r["next_unchanged_count"])
        for r in snapshot_delta(old, new).collect()
    }
    assert got == {
        "u1": ("unchanged", 4),
        "u2": ("changed", 0),
        "u3": ("gone", None),
        "u4": ("new", 0),
    }


def test_snapshot_delta_without_count_col(spark) -> None:
    from parsel_spark.operators.frontier import snapshot_delta

    old = spark.createDataFrame([("u1", "d1")], "url string, digest string")
    new = spark.createDataFrame([("u1", "d1")], "url string, digest string")
    row = snapshot_delta(old, new).collect()[0]
    assert row["status"] == "unchanged"
    assert row["next_unchanged_count"] == 1


def test_snapshot_delta_feeds_recrawl_due(spark) -> None:
    """Composition: the delta's next_unchanged_count drives the backoff."""
    from parsel_spark.operators.frontier import recrawl_due, snapshot_delta

    old = spark.createDataFrame(
        [("u1", "d1", 2), ("u2", "d2", 2)],
        "url string, digest string, unchanged_count int",
    )
    new = spark.createDataFrame(
        [("u1", "d1"), ("u2", "dX")], "url string, digest string"
    )
    delta = snapshot_delta(old, new).where("status <> 'gone'")
    state = delta.selectExpr(
        "url",
        "CAST(1000 AS BIGINT) AS last_fetch_ts",
        "CAST(NULL AS BIGINT) AS last_change_ts",
        "next_unchanged_count AS unchanged_count",
    )
    due = {
        r["url"]: r["interval_s"]
        for r in recrawl_due(
            state, now_ts=1500, min_interval_s=100, max_interval_s=10000
        ).collect()
    }
    # unchanged u1 backed off to 100*2^3; changed u2 reset to 100*2^0
    assert due == {"u1": 800, "u2": 100}


def test_host_priority_boost_reorders_within_wave(spark, tmp_path) -> None:
    """CrawlRun(host_priority=...): a (host, priority_rank) feedback
    table (quality or PageRank rollup) makes better-ranked hosts'
    links dequeue FIRST within their discovery wave; the crawled SET
    is unchanged, and omitting the table keeps the default ordering."""
    from parsel_spark.plans.crawl import CrawlRun
    from parsel_spark.sources.snapshots import SnapshotCatalog

    def page(url, host, html):
        return (url, None, 0, 0, "png", "", 0, url, host, html)

    links = "".join(
        f'<a href="http://{h}/p{i}">x</a>'
        for h in ("a.test", "b.test") for i in range(2)
    )
    rows = [page("http://c.test/s", "c.test", f"<html><body>{links}</body></html>")]
    for h in ("a.test", "b.test"):
        for i in range(2):
            rows.append(
                page(f"http://{h}/p{i}", h, "<html><body>leaf</body></html>")
            )
    schema = ("image_id string, bytes binary, w int, h int, fmt string, "
              "caption string, phash long, url string, host string, "
              "html string")
    pages = spark.createDataFrame(rows, schema)
    robots = spark.createDataFrame(
        [(h, ["/"], [], 1.0, 10) for h in ("a.test", "b.test", "c.test")],
        "host string, allow_prefixes array<string>, "
        "deny_prefixes array<string>, crawl_delay double, "
        "max_fetch_per_wave int",
    )
    seeds = spark.createDataFrame(
        [("http://c.test/s", 1.0, 0)], "url string, priority double, seq long"
    )
    hp = spark.createDataFrame(
        [("b.test", 1), ("a.test", 2)], "host string, priority_rank long"
    )

    boosted = CrawlRun(
        spark, SnapshotCatalog(str(tmp_path / "hp")), pages, robots,
        num_shards=4, host_priority=hp,
    )
    boosted.initialize(seeds)
    boosted.run(3)
    default = CrawlRun(
        spark, SnapshotCatalog(str(tmp_path / "plain")), pages, robots,
        num_shards=4,
    )
    default.initialize(seeds)
    default.run(3)

    assert boosted.seen_set() == default.seen_set()
    wave2_boosted = [u for w, u in boosted.crawl_order() if w == 2]
    # all four discovered links dequeue in wave 2; with the boost every
    # b.test url must come before every a.test url
    assert len(wave2_boosted) == 4
    assert [u.split("/")[2] for u in wave2_boosted[:2]] == ["b.test"] * 2
    assert [u.split("/")[2] for u in wave2_boosted[2:]] == ["a.test"] * 2
    # and the boost genuinely changed something vs the default tiebreak
    wave2_default = [u for w, u in default.crawl_order() if w == 2]
    assert sorted(wave2_default) == sorted(wave2_boosted)
