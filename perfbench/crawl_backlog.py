"""``crawl_backlog``: a recrawl whose saved state is ~250× one wave.

Live seeds (a few per host) start a crawl over a ``synth`` corpus; a
backlog of known-but-gone URLs on the same hosts joins the seed list at
priority 0, below every discovered link, so it sits in the frontier and
the seen set for the whole run and is (almost) never dequeued.  The run
is one ``CrawlRun.run(WARMUP_WAVES + waves)`` with a commit per wave.
Wave latency is the interval between successive commits, recorded by a
``SnapshotCatalog`` subclass.  Wave times fall for the first few waves
of a fresh session (JIT) and then hold within a few percent, so the
first ``WARMUP_WAVES`` count as set-up.
"""

from __future__ import annotations

import json
import math
import os
import time

from .common import CACHE_DIR, cores, geomean, log, median
from .inputs import backlog_urls, crawl_config, crawl_inputs

SIZES = {
    "full": {"pages": 10_000, "hosts": 250, "seeds_per_host": 4, "backlog": 62_500},
    "tiny": {"pages": 300, "hosts": 6, "seeds_per_host": 2, "backlog": 600},
}

WARMUP_WAVES = 4

#: m and k of the bloom shards (operators.bloom defaults)
BLOOM_M = 1 << 20
BLOOM_K = 7


def measured_waves(seconds: float) -> int:
    # a wave takes about 4 s on a 4-core box
    return max(3, math.ceil(seconds / 4.0))


def _catalog_class(tracer):
    from parsel_spark.sources.snapshots import SnapshotCatalog

    class TimedCatalog(SnapshotCatalog):
        """Records (start, end) of every commit; spans in traced runs."""

        def __init__(self, root: str) -> None:
            super().__init__(root)
            self.commits: list[tuple[float, float]] = []

        def commit(self, *args, **kwargs):
            start = time.time()
            with tracer.span("commit", "sources.snapshots"):
                snapshot = super().commit(*args, **kwargs)
            self.commits.append((start, time.time()))
            return snapshot

    return TimedCatalog


def _commit_files(catalog, snapshot_id: int) -> tuple[int, int]:
    root = os.path.join(catalog.data_dir, f"v{snapshot_id:04d}")
    n_files = n_bytes = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.startswith("part-"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, name))
    return n_files, n_bytes


def prepare(seed: int, size: str):
    return crawl_inputs(seed, SIZES[size])


def run(ctx, inputs) -> dict:
    from parsel_spark.plans.crawl import CrawlRun
    from parsel_spark.sources.synth import robots_rows, synth_robots

    spark, tracer, checks = ctx.spark, ctx.tracer, ctx.checks
    size = SIZES[ctx.size]
    cfg = crawl_config(ctx.seed, size)
    corpus_path, live = inputs
    backlog = backlog_urls(size)
    rows = [(url, float(len(live) - j), j) for j, url in enumerate(live)]
    rows += [(url, 0.0, len(live) + j) for j, url in enumerate(backlog)]
    rules = {
        r["host"]: (tuple(r["deny_prefixes"]), tuple(r["allow_prefixes"]))
        for r in robots_rows(cfg, fast=True)
    }
    n_waves = WARMUP_WAVES + measured_waves(ctx.seconds)

    t_setup = time.perf_counter()
    with tracer.span("prepare_pages", "plans.crawl"):
        pages = CrawlRun.prepare_pages(spark.read.parquet(corpus_path), cores())
    seeds = spark.createDataFrame(rows, "url string, priority double, seq long")
    robots = synth_robots(spark, cfg, fast=True)
    catalog = _catalog_class(tracer)(os.path.join(ctx.scratch, "catalog"))
    crawl = CrawlRun(
        spark, catalog, pages, robots, pages_prepared=True, robots_rules=rules
    )
    t_init = time.perf_counter()
    with tracer.span("initialize", "plans.crawl"):
        crawl.initialize(seeds)
    init_s = time.perf_counter() - t_init
    setup_before_run = time.perf_counter() - t_setup
    log("initialized")

    with tracer.span("run", "plans.crawl"):
        waves = crawl.run(n_waves)
    for _ in waves:
        checks.op()
    commits = catalog.commits  # [0] is initialize's commit
    if len(waves) != n_waves or len(commits) != n_waves + 1:
        raise RuntimeError(f"crawl stopped early: {len(waves)} of {n_waves} waves")
    ends = [end for _start, end in commits]
    intervals = [b - a for a, b in zip(ends, ends[1:])]
    for w, (a, b) in enumerate(zip(ends, ends[1:]), start=1):
        if w > WARMUP_WAVES:
            tracer.record(f"wave{w}", "wave", a, b)
    log("wave intervals " + " ".join(f"{x:.2f}" for x in intervals))
    warmup_s = sum(intervals[:WARMUP_WAVES])
    measured = intervals[WARMUP_WAVES:]
    measured_metrics = waves[WARMUP_WAVES:]
    items = sum(m["dequeued"] + m["links_extracted"] for m in measured_metrics)

    end_to_end = {
        "setup_s": ctx.session_s + setup_before_run + warmup_s,
        "items_per_s": items / sum(measured),
        "op_s.geomean": geomean(measured),
    }
    log("waves done")
    counts = _check(ctx, catalog, live, backlog, waves, cfg)
    log("checked")

    detail = {
        **counts,
        "wave_s.p50": median(measured),
        "wave_s.n": len(measured),
        "urls_per_s": items / sum(measured),
        "crawl.init_s": init_s,
        "crawl.dequeued_per_wave": median([m["dequeued"] for m in measured_metrics]),
        "crawl.links_per_wave": median([m["links_extracted"] for m in measured_metrics]),
        "crawl.new_per_wave": median([m["new_urls"] for m in measured_metrics]),
        "frontier.new_ratio": sum(m["new_urls"] for m in waves)
        / sum(m["links_extracted"] for m in waves),
        "snapshots.commit_s.p50": median(
            [b - a for a, b in commits[WARMUP_WAVES + 1 :]]
        ),
    }
    # snapshot v1 is initialize's commit, v(w+1) the commit of wave w
    files, nbytes = zip(
        *(
            _commit_files(catalog, sid)
            for sid in range(WARMUP_WAVES + 2, len(commits) + 1)
        )
    )
    detail["snapshots.files_per_commit"] = median(files)
    detail["snapshots.bytes_per_commit"] = median(nbytes)
    lineage = catalog.load_snapshot().lineage
    detail["bloom.fpr_est.max"] = max(
        (1.0 - math.exp(-BLOOM_K * s["n_items"] / BLOOM_M)) ** BLOOM_K
        for s in lineage
    )
    if tracer.enabled:
        detail.update(_isolated_operators(ctx, crawl, catalog, pages))
    return {"end_to_end": end_to_end, "detail": detail, "op_layer": "wave"}


def _check(ctx, catalog, live, backlog, waves, cfg) -> dict:
    """Outside the timed window; every miss is one failed check.
    Returns the row counts of the final seen and frontier tables."""
    from pyspark.sql import functions as F

    from parsel_spark.operators import frontier as fr
    from parsel_spark.sources.synth import robots_rows

    spark, checks = ctx.spark, ctx.checks
    seen = catalog.read_table(spark, "seen")
    row = seen.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("url").alias("d")
    ).first()
    expected = len(live) + len(backlog) + sum(m["new_urls"] for m in waves)
    checks.check(row["n"] == row["d"], f"seen has {row['n'] - row['d']} duplicate urls")
    checks.check(row["n"] == expected, f"seen rows {row['n']} != {expected}")
    counts = {
        "seen.rows": row["n"],
        "frontier.rows": catalog.read_table(spark, "frontier").count(),
    }

    crawled = [
        r.asDict()
        for r in catalog.read_table(spark, "crawl_log")
        .select("wave", "host", "url")
        .collect()
    ]
    if ctx.plant:
        # self-test mode: a wrong output must count as a failure
        crawled.append(
            {"wave": 1, "host": "host-000.test", "url": "http://host-000.test/closed/0"}
        )
    closed = [r["url"] for r in crawled if "/closed" in r["url"]]
    checks.check(not closed, f"crawl_log has {len(closed)} urls under /closed")

    # replay the token bucket: no host may exceed its per-wave budget
    robots = {r["host"]: r for r in robots_rows(cfg, fast=True)}
    used: dict[tuple[int, str], int] = {}
    for r in crawled:
        used[(r["wave"], r["host"])] = used.get((r["wave"], r["host"]), 0) + 1
    over = []
    for host, rule in robots.items():
        tokens = fr.INITIAL_TOKENS
        for wave in range(1, len(waves) + 1):
            refilled = fr.refill_tokens(tokens, rule["crawl_delay"])
            budget = fr.allowed_fetches(refilled, rule["max_fetch_per_wave"], 1 << 30)
            n = used.get((wave, host), 0)
            if n > budget:
                over.append((wave, host, n, budget))
            tokens = refilled - n
    strays = {h for _w, h in used} - set(robots)
    checks.check(
        not over and not strays,
        f"politeness budget exceeded: {over[:3]} {sorted(strays)[:3]}",
    )

    # counters must repeat exactly for a seed (common wave prefix)
    size = SIZES[ctx.size]
    key = (
        f"crawl_backlog-s{ctx.seed}-n{size['pages']}-h{size['hosts']}"
        f"-b{size['backlog']}"
    )
    path = os.path.join(CACHE_DIR, key + ".counters.json")
    counters = [[m["dequeued"], m["new_urls"], m["links_extracted"]] for m in waves]
    if os.path.exists(path):
        with open(path) as fh:
            previous = json.load(fh)
        n = min(len(previous), len(counters))
        checks.check(
            previous[:n] == counters[:n],
            f"wave counters differ from an earlier run of seed {ctx.seed}",
        )
    else:
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(counters, fh)
        os.replace(tmp, path)
    return counts


def _isolated_operators(ctx, crawl, catalog, pages) -> dict:
    """Time single operator calls on the final committed state."""
    from pyspark.sql import functions as F

    from parsel_spark.operators import frontier as fr

    spark, tracer = ctx.spark, ctx.tracer
    out: dict = {}

    def timed(name, layer, df):
        t = time.perf_counter()
        with tracer.span(name, layer):
            df.write.format("noop").mode("overwrite").save()
        out[name] = time.perf_counter() - t

    frontier = catalog.read_table(spark, "frontier")
    host_state = catalog.read_table(spark, "host_state")
    timed(
        "frontier.politeness_s", "operators.frontier",
        fr.politeness_split(frontier, host_state),
    )

    snapshot = catalog.load_snapshot()
    last_wave = snapshot.wave
    log = catalog.read_table(spark, "crawl_log").filter(F.col("wave") == last_wave)
    hits = pages.join(log.select("url"), "url", "left_semi")
    links = (
        fr.extract_wave_links(hits)
        .withColumn("host", F.parse_url("url", F.lit("HOST")))
        .localCheckpoint(eager=True)
    )
    gate_state = fr.seen_state_table(
        catalog.read_table(spark, "seen"),
        catalog.read_table(spark, "bloom"),
        crawl.num_shards,
        crawl.frontier_partitions,
    ).cache()
    gate_state.count()
    timed(
        "frontier.gate_s", "operators.frontier",
        fr.shard_gate(links, gate_state, crawl.num_shards),
    )
    gate_state.unpersist()

    delta = spark.read.parquet(snapshot.tables["seen"][-1])
    timed(
        "bloom.fold_s", "operators.bloom",
        fr.bloom_update(delta, catalog.read_table(spark, "bloom"), crawl.num_shards),
    )
    return out
