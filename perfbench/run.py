"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_backlog --seed 1 --seconds 10 --trace 0

Runs one workload in a closed loop (this process is the only client and
issues each wave, extraction query or suite row after the previous one
completed) on ``local[min(nproc, 4)]``, checks the outputs, and prints
as its last stdout line one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.

``--trace 0`` prints the end-to-end metrics (every workload prints the
same names; see ``perfbench/README.md`` for what each means per
workload).  ``--trace 1`` runs with the Spark event log on and spans
around every call into a layer, and prints the per-layer metrics; the
tracing overhead compares the layer-probe queries with a rerun of them
in a session without the event log.  The line before the last holds the workload's own
named metrics (``wave_s.p50``, ``pages_per_s.links``, ``suite_s``, ...).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import traceback
from dataclasses import dataclass, field

if __package__ in (None, ""):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    __package__ = "perfbench"

from perfbench import common, layers  # noqa: E402

WORKLOADS = ("crawl_backlog", "query_suite")


@dataclass
class Context:
    seed: int
    seconds: float
    size: str
    plant: bool
    scratch: str
    spark: object
    session_s: float
    tracer: common.Tracer
    checks: common.Checks = field(default_factory=common.Checks)


def unit_of(name: str) -> str:
    """Unit from the metric's name: the first dotted part that carries a
    unit suffix decides (``suite.<q>.s`` is seconds, ``wave_s.n`` a count)."""
    parts = name.split(".")
    if parts[-1] == "n":
        return "count"
    for part in parts:
        if part == "s":
            return "s"
        for suffix, unit in (
            ("_per_s", "1/s"), ("_us", "us"), ("_ms", "ms"), ("_s", "s"),
            ("_mb", "MB"), ("_pct", "%"), ("bytes", "B"), ("_ratio", "ratio"),
            ("fpr_est", "ratio"),
        ):
            if part.endswith(suffix) or (suffix == "bytes" and suffix in part):
                return unit
    return "count"


def named(values: dict) -> dict:
    return {k: common.metric(v, unit_of(k)) for k, v in values.items()}


def run(args) -> tuple[str, str]:
    scratch = common.prepare_environment()
    try:
        return _run(args, scratch)
    finally:
        common.stop_processes()
        common.cleanup(scratch)


def _run(args, scratch: str) -> tuple[str, str]:
    import importlib

    import parsel_spark  # noqa: F401  (fails fast outside a checkout)

    workload = importlib.import_module(f"perfbench.{args.workload}")
    inputs = workload.prepare(args.seed, args.size)  # untimed
    common.log("inputs ready")
    eventlog_dir = os.path.join(scratch, "eventlog") if args.trace else None
    tracer = common.Tracer(enabled=bool(args.trace))
    with common.RssSampler() as rss:
        spark, session_s = common.start_spark(scratch, eventlog_dir)
        common.log("session started")
        ctx = Context(
            seed=args.seed, seconds=args.seconds, size=args.size,
            plant=args.plant, scratch=scratch, spark=spark,
            session_s=session_s, tracer=tracer,
        )
        try:
            out = workload.run(ctx, inputs)
            if args.trace:
                sample = layers.sample_pages()
                layer_values = layers.in_process_probe(sample, tracer)
                probe = layers.udf_probe(spark, sample, tracer)
        finally:
            spark.stop()
            common.log("session stopped")
    ctx.checks.report()
    detail = out["detail"]
    if not args.trace:
        metrics = named({**out["end_to_end"], "peak_rss_mb": rss.peak_mb})
    else:
        # the same probe queries in a session without the event log and
        # spans give the tracing overhead
        spark, _ = common.start_spark(scratch)
        try:
            untraced = layers.udf_probe(spark, sample, common.Tracer(False))
        finally:
            spark.stop()
        totals = common.attribute_jobs(common.eventlog_file(eventlog_dir), tracer.spans)
        per_layer = dict(layer_values)
        per_layer.update(layers.udf_metrics(probe, tracer.spans, totals))
        profile = common.per_op_profile(tracer.spans, totals, out["op_layer"])
        per_layer.update(profile)
        per_layer["trace.overhead_pct"] = 100.0 * (
            probe["wall_s"] / untraced["wall_s"] - 1.0
        )
        metrics = named(per_layer)
        detail.update(_span_detail(args.workload, tracer.spans, totals))
        tracer.write(
            os.path.join(
                common.TRACE_DIR, f"{args.workload}-s{args.seed}-{os.getpid()}.json"
            ),
            {"jobs": {str(k): v for k, v in totals.items()}, "detail": detail},
        )
    detail_line = json.dumps({"workload": args.workload, "detail": named(detail)})
    return detail_line, common.result_line(ctx.checks, metrics)


def _span_detail(workload: str, spans: list[dict], totals: dict) -> dict:
    """Per-row Spark figures of the suite from the traced spans."""
    out: dict = {}
    if workload == "query_suite":
        for s in spans:
            if s["layer"] == "op":
                t = totals[s["id"]]
                out[f"suite.{s['query']}.jobs"] = t["jobs"]
                out[f"suite.{s['query']}.shuffle_bytes"] = t["shuffle_bytes"]
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="tiny: seconds-long inputs for the benchmark's own tests",
    )
    ap.add_argument(
        "--plant", action="store_true",
        help="corrupt one output before checking (self-test of the checks)",
    )
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an exception, so the JVM is still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        detail_line, result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(detail_line)
    print(result, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
