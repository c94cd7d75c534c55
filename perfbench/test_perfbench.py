"""Self-tests of the benchmark at tiny size (about a minute each).

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload must pass its checks on the real program, a planted
wrong output must be reported as a failure, and no process a run
started (the Spark JVM names the run's scratch directory) may outlive it.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def survivors(pid: int) -> list[str]:
    """Command lines of running processes that name run ``pid``'s scratch."""
    tag = os.path.join(".perfbench", "work", f"run-{pid}")
    found = []
    for path in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(path, "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if tag in cmd:
            found.append(cmd)
    return found


def bench(workload: str, *extra: str) -> dict:
    with subprocess.Popen(
        [sys.executable, RUN, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--size", "tiny", *extra],
        stdout=subprocess.PIPE, text=True,
    ) as proc:
        stdout, _ = proc.communicate(timeout=600)
    assert proc.returncode == 0
    assert survivors(proc.pid) == []
    return json.loads(stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["crawl_backlog", "query_suite"])
def test_tiny_run_is_correct(workload):
    result = bench(workload)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] > 0
    assert set(result["metrics"]) == {
        "setup_s", "items_per_s", "op_s.geomean", "peak_rss_mb"
    }
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", ["crawl_backlog", "query_suite"])
def test_planted_wrong_output_counts_as_failure(workload):
    result = bench(workload, "--plant")
    assert not result["correct"]
    assert result["failed"] >= 1


def test_traced_run_prints_per_layer_metrics():
    result = bench("query_suite", "--trace", "1")
    names = set(result["metrics"])
    assert "trace.overhead_pct" in names
    assert {"op.jobs", "op.driver_gap_s", "selector.parse_ms.large"} <= names
