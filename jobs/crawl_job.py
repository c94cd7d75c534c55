"""spark-submit entry point for the crawl engine (north rule launch
mode: ``spark-submit --py-files <pkg.zip> jobs/crawl_job.py``).

Runs a deterministic synthetic crawl (or resumes one from its snapshot
catalog) and prints per-wave metrics as JSON lines, then one line per
committed snapshot (``catalog.history()``: per-commit totals,
``frontier_rows``, ``max_host_rows``, the ``politeness`` window and the
batch's phase seconds ``politeness_s`` / ``fetch_gate_s`` /
``commit_wait_s``, the last being the time the loop blocked on the
previous background commit).

Arguments:
    --catalog DIR        snapshot catalog root (resume if it has state)
    --pages N            synthetic corpus size            [default 20000]
    --hosts N            synthetic host count             [default 800]
    --seeds N            seed-list size                   [default 1000]
    --waves N            waves to run                     [default 3]
    --shards N           bloom shard count                [default 64]
    --fast-politeness    crawl_delay=1 / max_fetch=8 for all hosts
    --checkpoint-interval K  commit a snapshot every K waves [default 1]
    --filter-kind KIND   seen-set filter: bloom or cuckoo [default bloom]
    --reliable-checkpoints  truncate lineage with reliable checkpoint()
                         (cluster-FS durability between commits)
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--catalog", required=True)
    parser.add_argument("--pages", type=int, default=20000)
    parser.add_argument("--hosts", type=int, default=800)
    parser.add_argument("--seeds", type=int, default=1000)
    parser.add_argument("--waves", type=int, default=3)
    parser.add_argument("--shards", type=int, default=64)
    parser.add_argument("--fast-politeness", action="store_true")
    parser.add_argument("--checkpoint-interval", type=int, default=1)
    parser.add_argument(
        "--filter-kind", choices=("bloom", "cuckoo"), default="bloom",
    )
    parser.add_argument(
        "--reliable-checkpoints", action="store_true",
        help="route lineage truncation + wave pins through reliable "
        "checkpoint() (cluster-FS durability between commits)",
    )
    args = parser.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("parsel_spark-crawl").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from parsel_spark.plans.crawl import PHASE_TIMERS, CrawlRun
    from parsel_spark.sources.snapshots import SnapshotCatalog
    from parsel_spark.sources.synth import (
        SynthConfig,
        synth_pages,
        synth_robots,
        synth_seeds,
    )

    cfg = SynthConfig(
        n_pages=args.pages, n_hosts=args.hosts, out_degree=12,
        seed=42, with_images=False,
    )
    pages = synth_pages(spark, cfg).cache()
    robots = synth_robots(spark, cfg, fast=args.fast_politeness)

    catalog = SnapshotCatalog(args.catalog)
    run = CrawlRun(
        spark, catalog, pages, robots, num_shards=args.shards,
        checkpoint_interval=args.checkpoint_interval,
        filter_kind=args.filter_kind,
        reliable_checkpoints=args.reliable_checkpoints,
    )
    if catalog.current_snapshot_id() is None:
        run.initialize(synth_seeds(spark, cfg, n_seeds=args.seeds))
        print(json.dumps({"event": "initialized", "seeds": args.seeds}))
    else:
        print(
            json.dumps(
                {"event": "resumed", "snapshot": catalog.current_snapshot_id()}
            )
        )

    for metrics in run.run(args.waves):
        print(json.dumps({"event": "wave", **metrics}))
    # the committed time series: per-commit totals plus frontier rows,
    # the deepest host's rows, the politeness window it ran and the
    # batch's phase seconds
    for snapshot in catalog.history():
        metrics = {
            key: round(val, 3) if key in PHASE_TIMERS else val
            for key, val in snapshot.metrics.items()
        }
        print(
            json.dumps(
                {
                    "event": "snapshot",
                    "snapshot": snapshot.snapshot_id,
                    "wave": snapshot.wave,
                    **metrics,
                }
            )
        )

    spark.stop()


if __name__ == "__main__":
    main()
