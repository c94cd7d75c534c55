"""Crawl-wave planner: the driver-side iterative loop composing the
frontier operators into waves, checkpointing to the snapshot catalog
(SURVEY.md §3.4).

Each wave:

    frontier(t) ── politeness dequeue (window + token bucket)
       │                 │
       │                 ├─► "fetch" (join on pages table) ─► extract links
       │                 │        (vectorized css UDF; html never shuffles)
       │                 ▼
       │          crawl_log(t) append
       ▼
    remaining + robots-allowed, bloom-prefiltered, exactly-deduped new
    links  ─►  frontier(t+1);  seen/bloom/host-state updated.

Each wave's jobs carry a Spark job description naming their phase —
``wave N: politeness``, ``wave N: fetch+extract+gate``, ``wave N:
commit`` — so an event log or the UI splits the wave without a rerun.

**Micro-batched commits** (``checkpoint_interval=k``): per-wave fixed
costs (the five snapshot table writes, the lineage observation, the
gate-state rebuild) are the scaling bottleneck at small wave sizes, so
the loop keeps state in memory between commits and snapshots every
``k`` waves:

* frontier/host-state are carried as checkpoint-truncated DataFrames
  (lineage cannot grow across waves — essential for iterative DataFrame
  loops).  ``CrawlRun(reliable_checkpoints=True)`` uses reliable
  ``checkpoint()`` to the cluster checkpoint dir (survives executor
  loss); the default ``localCheckpoint`` is executor-local and faster —
  a lost executor between commits replays from the committed snapshot;
* the bloom shards fold inside the wave's gate cogroup
  (``shard_gate``), which already holds each shard's committed bitmap.
  URLs discovered since the snapshot the gate state holds ride the gate
  as tagged pending rows (the small delta): they match candidates by
  exact string equality, and the gate adds their hashes, with this
  wave's new ones, to the committed bitmap.  So the last wave's state
  rows are the next bloom table, bit-identical for any ``k``, and a
  commit writes them without a Python pass of its own.  Probing uses
  the committed bitmap only, which is correct because the bloom filter
  is only ever a pre-filter;
* seen / crawl_log write one delta file-set per commit (O(Δ)).

**Pipelined commits.**  Every commit ``run()`` makes runs on one
background committer thread, behind the next wave.  Once a batch's last
wave has taken its two pins, the loop waits for the previous commit to
return (at most one is in flight), hands the batch's frames to the
committer and starts the next wave.  The committer writes the five
tables, swaps ``metadata/current`` (still the one commit point) and
then builds and materializes the next gate-state cache
(``seen_state_table``) from the committed tables.  The loop adopts that
cache when it joins the commit, at the next commit point; until then
the gate reads the previous cache and the new-URL deltas since its
snapshot ride the gate's pending side, the path ``k > 1`` always ran.
``run()`` never returns or raises while a commit runs, re-raises a
committer failure, and commits no later wave after one.
``initialize`` and ``forget`` commit synchronously.

A kill mid-batch resumes from the last committed snapshot and
deterministically recomputes the lost ≤k-1 waves — final state is
bit-identical (resume test), so the interval trades recovery time for
throughput, never correctness.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager
from functools import reduce
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.canonical import canonicalize_udf
from ..functions.planning import static_planning
from ..operators import frontier as fr
from ..sources.snapshots import SnapshotCatalog

DEFAULT_NUM_SHARDS = 32

CRAWL_LOG_SCHEMA = (
    "wave int, url string, url_hash long, host string, priority double, "
    "seq long"
)

#: Commit write sizing (guide §6: aim for 128 MB-1 GB output files).
#: Snapshot url tables are narrow (~100 B/row), so ~1M rows ≈ 100 MB
#: per file; bloom shards carry a 128 KiB bitmap each, so ~1k shards ≈
#: 128 MB.  File counts derive from the EXACT per-commit row counts the
#: loop already tracks (wave observations / the robots rules dict), so
#: the sizing is scale-adaptive rather than a local[32] constant: a
#: tiny bench commit writes 1 file per table instead of one per plan
#: partition, a production commit keeps ~100 MB files, and an unknown
#: count leaves the plan's own partitioning untouched.
COMMIT_ROWS_PER_FILE = 1_000_000
COMMIT_SHARDS_PER_FILE = 1_024

#: wall-clock phase timers ``run()`` adds to each snapshot's metrics,
#: float seconds summed over the batch's waves: the politeness job, the
#: fetch+extract+gate job (each with its driver-side plan building), and
#: the time the loop blocked on the previous commit
PHASE_TIMERS = ("politeness_s", "fetch_gate_s", "commit_wait_s")


def lineage_rows(observed: list) -> list[dict[str, int]]:
    """Snapshot lineage, one row per bloom shard, from the rows an
    ``Observation`` collected over the bloom write.  Deduped by shard
    id: an observation that sits in a shuffle-map stage can count a
    retried task twice."""
    by_shard = {
        int(row["shard_id"]): {
            "partition_id": int(row["shard_id"]),
            "bloom_shard_hash": int(row["shard_hash"]),
            "n_items": int(row["n_items"]),
        }
        for row in observed
    }
    return [by_shard[shard_id] for shard_id in sorted(by_shard)]


class CrawlRun:
    """Wave-synchronous crawl over a pages corpus with snapshot resume."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: SnapshotCatalog,
        pages: DataFrame,
        robots: DataFrame,
        num_shards: int = DEFAULT_NUM_SHARDS,
        frontier_partitions: int | None = None,
        filter_kind: str = "bloom",
        checkpoint_interval: int = 1,
        reliable_checkpoints: bool = False,
        pages_prepared: bool = False,
        robots_rules: dict | None = None,
        respect_nofollow: bool = False,
        host_priority: DataFrame | None = None,
    ) -> None:
        self.spark = spark
        self.catalog = catalog
        self.pages = pages
        self.robots = robots
        self.num_shards = num_shards
        # "bloom" (default) or "cuckoo" — cuckoo supports forget()
        self.filter_kind = filter_kind
        self.frontier_partitions = (
            frontier_partitions or spark.sparkContext.defaultParallelism
        )
        # REP page-level layer in the wave's extract stage (meta robots
        # nofollow + rel=nofollow tokens) — same fused UDF, off by
        # default so the reference-ordering parity corpus is unchanged
        self.respect_nofollow = respect_nofollow
        # optional (host, priority_rank) dim table — quality/centrality
        # feedback (host_quality_priority / the PageRank rollup) boosts
        # better-ranked hosts WITHIN each discovery wave via one
        # broadcast join in new_frontier_rows; None (default) keeps the
        # reference-ordering parity plan byte-identical
        self.host_priority = host_priority
        # pages_prepared=True: caller already bucketed the corpus
        # hash(url, frontier_partitions) (CrawlRun.prepare_pages) and
        # cached it — on a real cluster this is the corpus table's
        # bucketing, done once at ingest, so benches prepare outside
        # their timed window.  False: prepared lazily on first wave.
        self._pages_ready: DataFrame | None = (
            pages if pages_prepared else None
        )
        # optional pre-built {host: (deny, allow)} dict — skips the
        # one-time robots-table collect when the caller already has the
        # rules driver-side
        self._robots_rules = robots_rules
        self._robots_bc = None
        # commit a snapshot every k waves (k=1: classic wave-per-commit)
        self.checkpoint_interval = max(1, int(checkpoint_interval))
        # lineage truncation between waves: ``localCheckpoint`` keeps the
        # truncation point on executors (fast; an executor loss replays
        # from the last COMMITTED snapshot).  ``reliable_checkpoints=True``
        # swaps in reliable ``checkpoint()`` to the cluster checkpoint dir
        # so lineage survives executor loss between commits too.  A dir
        # already set (spark.sparkContext.setCheckpointDir) wins; else it
        # is ``<catalog root>/checkpoints``: the caller owns that tree,
        # and on a cluster it is the shared filesystem this needs anyway.
        self.reliable_checkpoints = bool(reliable_checkpoints)
        if reliable_checkpoints and spark.sparkContext.getCheckpointDir() is None:
            spark.sparkContext.setCheckpointDir(
                os.path.join(catalog.root, "checkpoints")
            )

    def _sized_for_write(
        self,
        df: DataFrame,
        rows: int | None,
        per_file: int = COMMIT_ROWS_PER_FILE,
    ) -> DataFrame:
        """Size a commit write to ~128 MB files from a KNOWN row count
        (``None``: leave the plan's partitioning alone).

        Uses ``coalesce`` — a narrow merge, right because every written
        frame is a pinned output (a LogicalRDD leaf), the bloom rows
        included, or sits behind an exchange: nothing upstream loses
        parallelism.  Wraps only the write-side frame; the carried state
        frames never see it."""
        if rows is None:
            return df
        n_files = max(1, -(-int(rows) // per_file))
        # always wrap: sizing to >= the frame's partition count is a
        # no-op for coalesce, and the frame may carry MORE than
        # frontier_partitions partitions (multi-wave delta unions are k
        # pinned outputs wide)
        return df.coalesce(n_files)

    def _truncate(self, df: DataFrame) -> DataFrame:
        """Cut lineage so iterative plans cannot grow across waves."""
        if self.reliable_checkpoints:
            return df.checkpoint(eager=False)
        return df.localCheckpoint(eager=False)

    def _pin(self, df: DataFrame) -> DataFrame:
        """EAGER checkpoint of a wave output (see _step's pin comment).
        Honors ``reliable_checkpoints``: the pending seen/log deltas and
        the carried frontier/host-state all derive from these pins, so
        with the reliable mode they must live on the cluster FS too —
        an executor loss between commits would otherwise lose the
        executor-local blocks the option promises to survive."""
        if self.reliable_checkpoints:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    @contextmanager
    def _static_planning(self):
        """Pin the loop's physical planning:

        * AQE OFF (``static_planning``) — the wave DAG is a handful of
          DEPENDENT stages over known row counts with explicit
          partitioning, and AQE's per-stage shuffle materialization +
          driver replanning serializes it — measured 1.8× wall-clock at
          local[32] on the 1.6M-page scaling workload (A/B in one
          session, byte-identical wave outputs).  AQE's wins (runtime
          coalescing, skew joins) target unknown sizes; windows cannot be
          AQE-split anyway;
        * ``spark.sql.shuffle.partitions`` = ``frontier_partitions`` —
          every implicit exchange (politeness window, fetch-key and
          survivor shuffles) then lands on the SAME hash layout as the
          carried state tables (host_state by host, seen/pages by url),
          which is what lets the politeness join, host-state update and
          fetch join run CO-PARTITIONED with zero extra exchanges.

        Restores both settings, and the job description the loop's
        phases overwrite, on exit so surrounding queries keep their
        configuration."""
        conf = self.spark.conf
        sc = self.spark.sparkContext
        prev_parts = conf.get("spark.sql.shuffle.partitions", "200")
        prev_description = sc.getLocalProperty("spark.job.description")
        conf.set("spark.sql.shuffle.partitions", str(self.frontier_partitions))
        try:
            with static_planning(self.spark):
                yield
        finally:
            conf.set("spark.sql.shuffle.partitions", prev_parts)
            sc.setLocalProperty("spark.job.description", prev_description)

    # -- static inputs, prepared once per crawl ---------------------------
    @staticmethod
    def prepare_pages(pages: DataFrame, partitions: int) -> DataFrame:
        """Bucket the fetch corpus hash(url, partitions), cache and
        materialize it — the layout the per-wave fetch join consumes
        without moving the html column ever again.  On a real cluster
        this is the corpus table's bucketing/clustering at ingest;
        benches run it once outside the timed window and pass
        ``pages_prepared=True``.

        The cache is registered with AQE disabled: an InMemoryRelation
        whose cached plan is an (unfinalized) AdaptiveSparkPlan reports
        UNKNOWN output partitioning, which would make the AQE-off loop
        re-exchange the whole corpus (html included) at every wave's
        fetch join — silently defeating the bucketing."""
        with static_planning(pages.sparkSession):
            prepared = (
                pages.select("url", "html")
                .repartition(partitions, "url")
                .cache()
            )
            prepared.count()
        return prepared

    def _prepared_pages(self) -> DataFrame:
        if self._pages_ready is None:
            self._pages_ready = self.prepare_pages(
                self.pages, self.frontier_partitions
            )
        return self._pages_ready

    def _robots_broadcast(self):
        """{host: (deny_prefixes, allow_prefixes)} as a python
        sc.broadcast — shipped to executors ONCE per crawl and reused by
        every wave's cogroup probe (a JVM broadcast-join table re-ships
        every job, i.e. every wave).  Collected rules are kept, and
        size the host-state writes."""
        if self._robots_bc is None:
            if self._robots_rules is None:
                self._robots_rules = {
                    row["host"]: (
                        tuple(row["deny_prefixes"] or ()),
                        tuple(row["allow_prefixes"] or ()),
                    )
                    for row in self.robots.select(
                        "host", "deny_prefixes", "allow_prefixes"
                    ).collect()
                }
            self._robots_bc = self.spark.sparkContext.broadcast(
                self._robots_rules
            )
        return self._robots_bc

    # -- initialization --------------------------------------------------
    def initialize(self, seeds: DataFrame) -> None:
        """Wave-0 state from the seed list; commits snapshot v1."""
        with self._static_planning():
            self.spark.sparkContext.setJobDescription("wave 0: initialize")
            self._initialize(seeds)

    def _initialize(self, seeds: DataFrame) -> None:
        spark = self.spark
        canonical_seeds = seeds.select(
            canonicalize_udf("url").alias("url"), "priority", "seq"
        )
        # hash(host): wave 1's politeness window then reuses this layout
        # directly (subsequent frontiers re-establish it at their window
        # exchange — the wave's ONE full-frontier shuffle)
        frontier0 = canonical_seeds.select(
            "url",
            F.xxhash64("url").alias("url_hash"),
            F.parse_url("url", F.lit("HOST")).alias("host"),
            "priority",
            "seq",
            F.lit(0).alias("discovered_wave"),
        ).repartition(self.frontier_partitions, "host")
        # pin ONCE (same discipline as _step's wave pins): the commit
        # derives frontier table + seen delta + bloom fold from this
        # frame, and an unpinned plan re-runs seed generation + the
        # canonicalize UDF once PER derived write (3-4 python passes per
        # initialize — measured ~2s of the bench loop's fixed cost);
        # the LogicalRDD leaf keeps the hash(host) layout for wave 1.
        # The seed counter rides the pin's action (the pin is eager, so
        # the metric is available immediately after) — which also makes
        # the exact row count available BEFORE the commit, for sizing
        # the commit's output files.
        obs_seeds = Observation("init_seeds")
        frontier0 = frontier0.observe(
            obs_seeds, F.count(F.lit(1)).alias("n")
        )
        frontier0 = self._pin(frontier0)
        n_seeds = int(obs_seeds.get["n"])

        # hash(host): carried across waves so the politeness join and the
        # host-state update run co-partitioned (zero exchanges per wave)
        host_state = self.robots.select(
            "host",
            F.lit(fr.INITIAL_TOKENS).alias("tokens"),
            "crawl_delay",
            "max_fetch_per_wave",
        ).repartition(self.frontier_partitions, "host")
        # the rules size the host-state write (one row per host); wave 1
        # reuses this broadcast
        self._robots_broadcast()
        seen = frontier0.select("url", "url_hash")
        empty_bloom = spark.createDataFrame([], fr.BLOOM_SCHEMA)
        # pinned like frontier0: the fold cogroup runs at full
        # parallelism in its own job, and the commit's narrow merge and
        # lineage observation read the pinned rows
        bloom = self._pin(
            fr.bloom_update(seen, empty_bloom, self.num_shards, kind=self.filter_kind)
        )
        crawl_log = spark.createDataFrame([], CRAWL_LOG_SCHEMA)
        self._commit(
            wave=0,
            frontier=frontier0,
            host_state=host_state,
            seen_delta=seen,
            bloom=bloom,
            crawl_log_delta=crawl_log,
            # frontier_rows feeds the first run()'s window choice (the
            # deepest host is unknown until a wave ranks the frontier)
            metrics={
                "dequeued": 0,
                "new_urls": n_seeds,
                "fetched": 0,
                "frontier_rows": n_seeds,
            },
            row_hints={
                "frontier": n_seeds,
                "host_state": len(self._robots_rules),
                "seen": n_seeds,
            },
        )

    def _committed_gate_state(self) -> DataFrame:
        """The gate's state cache built from the committed tables: bloom
        shards + exact seen rows in ONE shard-partitioned cache, so the
        per-wave gate cogroup's state side needs no exchange and the
        exact check rides the same stage.  Registered lazily."""
        spark = self.spark
        return fr.seen_state_table(
            self.catalog.read_table(spark, "seen"),
            self.catalog.read_table(spark, "bloom"),
            self.num_shards,
            self.frontier_partitions,
        ).cache()

    # -- in-memory state between commits ----------------------------------
    def _load_state(self) -> dict[str, Any]:
        spark = self.spark
        snapshot = self.catalog.load_snapshot()
        assert snapshot is not None, "initialize() first"
        state: dict[str, Any] = {
            "wave": snapshot.wave,
            "frontier": self.catalog.read_table(spark, "frontier"),
            # re-establish the carried hash(host) layout after a resume
            # (parquet reads come back unpartitioned); one exchange per
            # RESUME, not per wave
            "host_state": self.catalog.read_table(spark, "host_state")
            .repartition(self.frontier_partitions, "host"),
            # exact frontier row count and deepest-host rows committed
            # with the snapshot (the politeness window's choice); None
            # when unknown (after initialize, or on legacy snapshots)
            "frontier_rows": snapshot.metrics.get("frontier_rows"),
            "max_host_rows": snapshot.metrics.get("max_host_rows"),
            "politeness": None,   # window the last wave ran
            "pending_rows": 0,    # new-url rows since last commit
            "pending_seen": [],   # new-url deltas since last commit
            "pending_log": [],    # crawl-log deltas since last commit
            "batch_metrics": [],  # per-wave metric dicts since last commit
            "phase_s": dict.fromkeys(PHASE_TIMERS, 0.0),  # since last commit
            # the gate's state cache and the new-url deltas since the
            # snapshot it was built from (its pending side)
            "gate_state": self._committed_gate_state(),
            "gate_pending": [],
        }
        return state

    def _salted_window(self, state: dict[str, Any]) -> bool:
        """Salt the politeness window only when one host may hold more
        frontier rows than a task's fair share, ``frontier_rows /
        frontier_partitions`` — the straggler the salt pass exists to
        break up.  Otherwise both windows share ONE hash(host) exchange
        and the salt pass would re-shuffle the whole frontier for
        nothing.  The deepest host's rows come from the previous wave's
        ranks (``fr.host_depth``); unknown depth salts.  Results are
        identical either way (the salt pass only drops provably
        never-dequeuable rows from the ranking window)."""
        rows, depth = state["frontier_rows"], state["max_host_rows"]
        if rows is None or depth is None:
            return True
        return depth > rows / self.frontier_partitions

    def _step(self, state: dict[str, Any]) -> dict[str, Any]:
        """Run one wave against the in-memory state; no snapshot IO.

        Exactly TWO driver actions run per wave — the eager checkpoint
        pins of the wave's two outputs (``flagged`` and the gate's
        ``new`` + bloom state rows) — and every counter rides them as
        ``Observation`` metrics; there is no separate ``count()`` job
        and ZERO per-wave driver broadcasts.  The politeness join,
        host-state update and fetch join run co-partitioned against
        state carried hash-partitioned across waves (host_state by
        host, corpus by url, gate state by shard), robots rules ship
        once per crawl as a python broadcast, and dedup + bloom probe +
        EXACT seen check + pending-delta match + the bloom fold all
        ride ONE cogroup shuffle (``shard_gate``; the seen rows live on
        its state side, pre-partitioned per commit).  The gate's bloom
        state rows share the second pin with the new urls, so the
        commit writes the last wave's rows with no Python stage.  Per
        wave the only full-frontier movement is the politeness window's
        exchange (two on the salted window, ``_salted_window``);
        everything else shuffles wave-sized keys.

        Pinning the wave outputs as eager checkpoints (and deriving ALL
        carried state from the LogicalRDD leaves) is a correctness-of-
        cost guard, not a style choice: a plan that embeds the wave
        pipeline NEXT TO LogicalRDD leaves misses Spark's relation-dedup
        cache and silently recomputes the whole wave — fetch, extract
        UDF, cogroup — at materialization time (measured: 51s of a 74s
        wave at 3.2M pages).  LogicalRDD-derived plans have nothing to
        recompute, and the eager pin doubles as the wave's action."""
        wave = int(state["wave"])
        started = time.perf_counter()
        describe = self.spark.sparkContext.setJobDescription
        describe(f"wave {wave + 1}: politeness")
        salted = self._salted_window(state)
        # -- job 1: ONE flagged pass (dequeued + remaining + the source
        # of the host-state update), pinned eagerly; the dequeue counter
        # and the ranks that size the deepest host ride the pin's action
        # as an Observation
        obs_deq = Observation(f"deq_w{wave}")
        flagged = (
            fr.politeness_split(
                state["frontier"], state["host_state"],
                skew_prune=salted, ranks=True,
            )
            .observe(
                obs_deq,
                F.coalesce(
                    F.sum(F.col("dequeued").cast("long")), F.lit(0)
                ).alias("n"),
                F.max("rn").alias("max_rn"),
                (F.max("prn") if salted else F.lit(None)).alias("max_prn"),
            )
            .drop("rn", "prn")
        )
        flagged_rdd = self._pin(flagged)
        politeness_done = time.perf_counter()
        dequeued = flagged_rdd.filter(F.col("dequeued")).select(*fr.FRONTIER_COLS)
        remaining = flagged_rdd.filter(~F.col("dequeued")).select(
            *fr.FRONTIER_COLS
        )

        # -- job 2: fetch → extract → fused gate → pin.  "fetch" is a
        # co-partitioned left-semi against the url-bucketed corpus —
        # only the wave's url keys shuffle; the html payload column
        # NEVER moves (neither shuffle nor driver broadcast).  The first
        # wave's one-off corpus bucketing and robots collect run under
        # this phase's description too.
        describe(f"wave {wave + 1}: fetch+extract+gate")
        page_hits = self._prepared_pages().join(
            dequeued.select("url").hint("SHUFFLE_HASH"), "url", "left_semi"
        )
        links = fr.extract_wave_links(
            page_hits, respect_nofollow=self.respect_nofollow
        ).withColumn(
            "host", F.parse_url("url", F.lit("HOST"))
        )
        pending = None
        if state["gate_pending"]:
            pending = reduce(
                DataFrame.unionByName,
                [p.select("url") for p in state["gate_pending"]],
            )
        # dedup + bloom + exact seen + pending + robots + bloom fold in
        # ONE cogroup stage; everything after is map-side flag filtering
        gated = fr.shard_gate(
            links,
            state["gate_state"],
            self.num_shards,
            kind=self.filter_kind,
            pending=pending,
            robots_bc=self._robots_broadcast(),
        )
        is_state = F.col("bitmap").isNotNull()
        is_new = ~is_state & ~F.col("is_seen") & F.col("robots_allowed")
        obs_gate = Observation(f"gate_w{wave}")
        kept = gated.observe(
            obs_gate,
            F.count(F.when(~is_state, 1)).alias("links"),
            F.count(F.when(is_new, 1)).alias("new"),
        ).filter(is_state | is_new)
        kept_rdd = self._pin(kept)
        new_urls_rdd = kept_rdd.filter(~is_state).select("url", "url_hash", "host")
        n_new = int(obs_gate.get["new"])
        deq = obs_deq.get
        n_dequeued = int(deq["n"])

        new_host_state = fr.host_state_update(state["host_state"], dequeued)

        # union is map-only over the two checkpoint scans; no repartition
        # shuffle, and NO further checkpoint: both inputs already ARE
        # this wave's LogicalRDD leaves, so the next frontier's lineage
        # depth is constant by construction — truncating the union again
        # would just re-write the full frontier a second time per wave
        new_frontier = remaining.unionByName(
            fr.new_frontier_rows(
                new_urls_rdd, wave, host_priority=self.host_priority
            )
        )
        # one small explicit exchange re-asserts hash(host) (a full-outer
        # join's output partitioning is not propagated), so next wave's
        # politeness + update joins stay exchange-free; host_state DOES
        # need the lineage truncation — it chains through every wave
        new_host_state = self._truncate(
            new_host_state.repartition(self.frontier_partitions, "host")
        )

        log_delta = dequeued.select(
            F.lit(wave + 1).alias("wave"),
            "url",
            "url_hash",
            "host",
            "priority",
            "seq",
        )
        metrics = {
            "dequeued": int(n_dequeued),
            "new_urls": int(n_new),
            "links_extracted": int(obs_gate.get["links"]),
        }
        state["wave"] = wave + 1
        state["frontier"] = new_frontier
        state["host_state"] = new_host_state
        # exact bookkeeping feeding next wave's window choice
        if state["frontier_rows"] is not None:
            state["frontier_rows"] = (
                int(state["frontier_rows"]) - int(n_dequeued) + int(n_new)
            )
        state["max_host_rows"] = fr.host_depth(deq["max_rn"], deq["max_prn"])
        state["politeness"] = "salted" if salted else "plain"
        state["pending_rows"] = int(state["pending_rows"]) + int(n_new)
        # pending handle derives from the checkpointed RDD: the delta
        # feeds the next wave's cogroup state side, and a raw plan there
        # would nest every prior wave's plan 2× per wave (2^N
        # logical-plan blowup — seconds of driver-side plan compilation
        # per action); a LogicalRDD leaf keeps every wave's plan
        # O(wave-size).
        new_seen = new_urls_rdd.select("url", "url_hash")
        state["pending_seen"].append(new_seen)
        state["gate_pending"].append(new_seen)
        state["pending_log"].append(log_delta)
        state["batch_metrics"].append(metrics)
        # the shards' filters with every url so far folded in: the next
        # commit's bloom table
        state["bloom"] = fr.gate_bloom_rows(kept_rdd)
        phase_s = state["phase_s"]
        phase_s["politeness_s"] += politeness_done - started
        phase_s["fetch_gate_s"] += time.perf_counter() - politeness_done
        return metrics

    def _batch_commit(self, state: dict[str, Any]) -> dict[str, Any]:
        """Freeze the batch's pending deltas and the last wave's bloom
        state rows into ``_commit`` arguments, and start the next batch.
        Runs on the loop's thread: the committer gets values the loop
        no longer changes.  A batch holds at least one wave."""
        totals: dict[str, Any] = {}
        for m in state["batch_metrics"]:
            for key, val in m.items():
                totals[key] = totals.get(key, 0) + int(val)
        for key in ("frontier_rows", "max_host_rows", "politeness"):
            if state[key] is not None:
                totals[key] = state[key]
        totals.update(state["phase_s"])
        batch = {
            "wave": state["wave"],
            "frontier": state["frontier"],
            "host_state": state["host_state"],
            "seen_delta": reduce(DataFrame.unionByName, state["pending_seen"]),
            "bloom": state["bloom"],
            "crawl_log_delta": reduce(DataFrame.unionByName, state["pending_log"]),
            "metrics": totals,
            "row_hints": {
                # exact counts from the wave observations (None: legacy
                # snapshot without frontier bookkeeping — leave as-is)
                "frontier": state["frontier_rows"],
                "host_state": len(self._robots_rules),
                "seen": int(state["pending_rows"]),
                "crawl_log": totals.get("dequeued"),
            },
        }
        state["pending_rows"] = 0
        state["pending_seen"] = []
        state["pending_log"] = []
        state["batch_metrics"] = []
        state["phase_s"] = dict.fromkeys(PHASE_TIMERS, 0.0)
        return batch

    def _commit_batch(
        self, batch: dict[str, Any], refresh: bool
    ) -> DataFrame | None:
        """The committer: write the batch's snapshot, then (``refresh``)
        build and materialize the gate-state cache from the committed
        tables.  Its jobs carry ``wave N: commit``."""
        self.spark.sparkContext.setJobDescription(
            f"wave {batch['wave']}: commit"
        )
        self._commit(**batch)
        if not refresh:
            return None
        gate_state = self._committed_gate_state()
        gate_state.count()
        return gate_state

    def _join_commit(
        self, state: dict[str, Any], inflight: tuple[Future, int] | None
    ) -> None:
        """Wait for the in-flight commit (re-raising its failure) and
        adopt the gate-state cache it built: the gate's pending side
        then drops the deltas that commit covered."""
        if inflight is None:
            return
        future, n_deltas = inflight
        started = time.perf_counter()
        gate_state = future.result()
        state["phase_s"]["commit_wait_s"] += time.perf_counter() - started
        if gate_state is not None:
            state["gate_state"].unpersist()
            state["gate_state"] = gate_state
            state["gate_pending"] = state["gate_pending"][n_deltas:]

    def run(self, waves: int) -> list[dict[str, Any]]:
        """Run up to ``waves`` waves, committing a snapshot every
        ``checkpoint_interval`` waves (and always at loop exit).  Each
        commit runs on the committer thread behind the next wave (module
        docstring); ``run`` returns once the last one has."""
        with self._static_planning(), ThreadPoolExecutor(
            max_workers=1, thread_name_prefix="crawl-commit"
        ) as committer:
            state = self._load_state()
            inflight: tuple[Future, int] | None = None
            out: list[dict[str, Any]] = []
            try:
                for i in range(waves):
                    metrics = self._step(state)
                    out.append(metrics)
                    last = i + 1 == waves or metrics["dequeued"] == 0
                    if last or (i + 1) % self.checkpoint_interval == 0:
                        self._join_commit(state, inflight)
                        inflight = None
                        n_deltas = len(state["pending_seen"])
                        batch = self._batch_commit(state)
                        target = inheritable_thread_target(self.spark)(
                            self._commit_batch
                        )
                        inflight = (
                            committer.submit(target, batch, not last),
                            n_deltas,
                        )
                    if last:
                        break
                self._join_commit(state, inflight)
                inflight = None
            finally:
                if inflight is not None:
                    # a wave raised with a commit in flight: wait for it,
                    # and drop the cache it built for a wave that won't run
                    future = inflight[0]
                    if future.exception() is None and future.result() is not None:
                        future.result().unpersist()
                state["gate_state"].unpersist()
            return out

    # -- deletions (recrawl policies) -------------------------------------
    def forget(self, urls: DataFrame) -> int:
        """Remove URLs from the seen-set so they can be re-discovered and
        re-crawled (e.g. recrawl-after-TTL policies).  Requires the
        cuckoo filter backend — bloom filters cannot delete.  Commits a
        new snapshot; returns the number of URLs forgotten."""
        if self.filter_kind != "cuckoo":
            raise ValueError(
                "forget() requires CrawlRun(filter_kind='cuckoo'); the "
                "bloom backend cannot delete"
            )
        with self._static_planning():
            return self._forget(urls)

    def _forget(self, urls: DataFrame) -> int:
        spark = self.spark
        snapshot = self.catalog.load_snapshot()
        assert snapshot is not None, "initialize() first"
        seen = self.catalog.read_table(spark, "seen")
        bloom = self.catalog.read_table(spark, "bloom")
        targets = seen.join(
            F.broadcast(urls.select("url")), "url", "left_semi"
        ).cache()
        n_forgotten = targets.count()
        new_seen = seen.join(F.broadcast(urls.select("url")), "url", "left_anti")
        new_bloom = fr.bloom_update(
            targets, bloom, self.num_shards, kind=self.filter_kind, delete=True
        )
        # deletions rewrite the cumulative seen table (a full rewrite is
        # the cost of forgetting; it happens at recrawl cadence, not
        # per-wave); the frontier bookkeeping carries across it
        forget_metrics: dict[str, Any] = {"forgotten": int(n_forgotten)}
        for key in ("frontier_rows", "max_host_rows"):
            if snapshot.metrics.get(key) is not None:
                forget_metrics[key] = snapshot.metrics[key]
        self.catalog.commit(
            wave=snapshot.wave,
            tables={
                "frontier": self.catalog.read_table(spark, "frontier"),
                "host_state": self.catalog.read_table(spark, "host_state"),
                "bloom": new_bloom,
                "seen": new_seen,
                "crawl_log": self.catalog.read_table(spark, "crawl_log"),
            },
            metrics=forget_metrics,
        )
        targets.unpersist()
        return int(n_forgotten)

    # -- snapshot plumbing ----------------------------------------------
    def _commit(
        self,
        wave: int,
        frontier: DataFrame,
        host_state: DataFrame,
        seen_delta: DataFrame,
        bloom: DataFrame,
        crawl_log_delta: DataFrame,
        metrics: dict[str, Any],
        row_hints: dict[str, int | None] | None = None,
    ) -> None:
        # per-partition lineage (shard id + bitmap content hash +
        # counters) rides the bloom WRITE as an Observation instead of a
        # separate collect job.  The bloom frame is always pinned and
        # merged with coalesce, so the observation runs in the write's
        # own stage, above no exchange.
        obs_lineage = Observation(f"bloom_lineage_w{wave}")
        bloom = bloom.observe(
            obs_lineage,
            F.collect_list(F.struct("shard_id", "shard_hash", "n_items")).alias(
                "rows"
            ),
        )
        metrics = {
            **metrics,
            "urls_emitted": metrics.get("new_urls", 0),
            "urls_dequeued": metrics.get("dequeued", 0),
        }
        hints = row_hints or {}
        self.catalog.commit(
            wave=wave,
            tables={
                "frontier": self._sized_for_write(
                    frontier, hints.get("frontier")
                ),
                "host_state": self._sized_for_write(
                    host_state, hints.get("host_state")
                ),
                # shard count is always known
                "bloom": self._sized_for_write(
                    bloom, self.num_shards, COMMIT_SHARDS_PER_FILE
                ),
            },
            appends={
                # cumulative: O(Δ) write per wave
                "seen": self._sized_for_write(seen_delta, hints.get("seen")),
                "crawl_log": self._sized_for_write(
                    crawl_log_delta, hints.get("crawl_log")
                ),
            },
            lineage=lambda: lineage_rows(obs_lineage.get["rows"]),
            metrics=metrics,
        )

    # -- results ---------------------------------------------------------
    def crawl_order(self) -> list[tuple[int, str]]:
        """Deterministic global crawl order: (wave, rank-within-wave)."""
        log = self.catalog.read_table(self.spark, "crawl_log")
        rows = log.orderBy(
            "wave", F.desc("priority"), "seq", "url_hash", "url"
        ).collect()
        return [(int(r["wave"]), r["url"]) for r in rows]

    def seen_set(self) -> set[str]:
        seen = self.catalog.read_table(self.spark, "seen")
        return {r["url"] for r in seen.select("url").collect()}


def seeds_from_sitemaps(sitemaps: DataFrame, xml_col: str = "xml") -> DataFrame:
    """Seed list (url, priority, seq) for ``CrawlRun.initialize`` from a
    table of sitemap XML documents (sitemaps.org protocol): page locs
    exploded and deduplicated, uniform priority, ``seq=0`` — crawl
    order then falls deterministically to the engine's (priority DESC,
    seq ASC, url_hash, url) tiebreak, so no global window / single
    partition sequencing is needed at any scale.

    ``sitemapindex`` entries are NOT fetched here (the engine has no
    network layer): route ``extract_sitemap(...).sitemap_urls`` through
    your fetch stage and call again with the nested documents."""
    from ..functions.udfs import extract_sitemap

    return (
        sitemaps.select(
            F.explode(extract_sitemap(xml_col).getField("page_urls")).alias(
                "url"
            )
        )
        .distinct()
        .select(
            "url",
            F.lit(0.0).alias("priority"),
            F.lit(0).cast("long").alias("seq"),
        )
    )
