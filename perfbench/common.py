"""Shared plumbing for the benchmark workloads: environment, Spark session,
peak-RSS sampling, spans, event-log attribution and statistics.

Everything a run writes goes under ``<checkout>/.perfbench/`` (input
cache, Spark scratch, event logs, trace files); nothing is written
outside the checkout.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")
CACHE_DIR = os.path.join(STATE_DIR, "cache")
TRACE_DIR = os.path.join(STATE_DIR, "traces")

#: Driver heap.  All executors share the driver JVM in local mode; the
#: largest cached input (the crawl corpus) is a few tens of MB.  The heap
#: is committed and touched in full at start: a heap that grows on demand
#: leaves the JVM's RSS to GC timing (1.3-2.0 GB at the same seed), and
#: ``peak_rss_mb`` would measure that instead of the program.
DRIVER_MEMORY = "2g"


_T0 = time.perf_counter()


def log(message: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    stamp = time.perf_counter() - _T0
    print(f"[perfbench {stamp:7.1f}s] {message}", file=sys.stderr, flush=True)


def cores() -> int:
    return max(1, min(os.cpu_count() or 1, 4))


def prepare_environment() -> str:
    """Put the checkout on every Python path (driver and Spark's Python
    workers) and point all scratch space into the checkout.  Returns
    this run's private scratch directory."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # Python workers are forked by the JVM, which inherits this
    # environment: without it they fail with ModuleNotFoundError when
    # the benchmark is started from outside the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    scratch = os.path.join(STATE_DIR, "work", f"run-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # tempfile.mkdtemp() inside the program (catalogs, stream sinks)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    return scratch


def start_spark(scratch: str, eventlog_dir: str | None = None):
    """``local[min(nproc, 4)]`` session sized to the box; returns
    (spark, seconds it took to start)."""
    from pyspark.sql import SparkSession

    n = cores()
    t0 = time.perf_counter()
    java_opts = (
        f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}"
        f" -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
    )
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("parsel_spark-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.local.dir", os.path.join(scratch, "spill"))
        .config("spark.sql.warehouse.dir", os.path.join(scratch, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # builder options persist across sessions of one process: always
    # state whether this session logs events
    logging = "true" if eventlog_dir is not None else "false"
    builder = builder.config("spark.eventLog.enabled", logging)
    if eventlog_dir is not None:
        os.makedirs(eventlog_dir, exist_ok=True)
        builder = (
            builder
            .config("spark.eventLog.dir", eventlog_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def cleanup(scratch: str) -> None:
    shutil.rmtree(scratch, ignore_errors=True)


# -- peak RSS of the whole process tree ---------------------------------


_PAGE = os.sysconf("SC_PAGE_SIZE")
#: ``PF_FORKNOEXEC``: the process has forked and not exec'd since
_PF_FORKNOEXEC = 0x40


def _stat(pid: int) -> tuple[int, int, int, int] | None:
    """(parent pid, flags, virtual size, RSS bytes) of ``pid``, or None
    once it has gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may contain spaces: split after its ')'
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), int(fields[6]), int(fields[20]), int(fields[21]) * _PAGE


def _proc_table() -> dict[int, tuple[int, int, int, int]]:
    """pid -> ``_stat(pid)`` of every process."""
    table = {}
    for path in glob.glob("/proc/[0-9]*"):
        pid = int(os.path.basename(path))
        stat = _stat(pid)
        if stat is not None:
            table[pid] = stat
    return table


def _tree(root_pid: int, table: dict) -> list[int]:
    """``root_pid`` and every process below it."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _descendants(root_pid: int) -> list[int]:
    return _tree(root_pid, _proc_table())[1:]


def _tree_rss_bytes(root_pid: int) -> int:
    """RSS of the tree.  The JVM starts helper commands with vfork: until
    the child execs it shares the JVM's pages and reports the JVM's whole
    RSS.  A child that has not exec'd since it forked and whose virtual
    size or RSS, read back to back with its parent's, equals the
    parent's still shares the parent's pages and is not counted again."""
    table = _proc_table()
    total = 0
    for pid in _tree(root_pid, table):
        if pid not in table:
            continue
        ppid, flags, _, rss = table[pid]
        if pid != root_pid and flags & _PF_FORKNOEXEC:
            child, parent = _stat(pid), _stat(ppid)
            if child is None:
                continue
            if parent is not None and (
                child[2] == parent[2] or child[3] == parent[3]
            ):
                continue
        total += rss
    return total


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def stop_processes(timeout: float = 30.0) -> None:
    """End the Spark JVM and every other process below this one, and
    wait until each has ended.  ``spark.stop()`` leaves the JVM (and its
    Python workers) alive until it notices this process is gone, so
    without this they outlive the run."""
    leftover = _descendants(os.getpid())
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    gateway = SparkContext._gateway if SparkContext is not None else None
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception:  # the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the JVM exits on EOF on its stdin
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    for pid in leftover:
        if _running(pid):
            try:
                os.kill(pid, signal.SIGTERM)
            except OSError:
                pass
    while any(_running(pid) for pid in leftover):
        if time.monotonic() > deadline:
            for pid in leftover:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


class RssSampler:
    """Samples the RSS of this process plus every descendant (the JVM
    and the Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> None:
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


# -- spans ----------------------------------------------------------------


class Tracer:
    """In-memory spans around calls into the program's layers.  With
    ``enabled=False`` nothing is recorded (untraced runs)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        record = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "start_ms": time.time() * 1000.0,
            "end_ms": None,
            **attrs,
        }
        self.spans.append(record)
        self._stack.append(record["id"])
        try:
            yield record
        finally:
            self._stack.pop()
            record["end_ms"] = time.time() * 1000.0

    def record(self, name: str, layer: str, start_s: float, end_s: float, **attrs):
        """Add a span measured after the fact (``time.time()`` seconds)."""
        if self.enabled:
            self.spans.append(
                {
                    "id": len(self.spans),
                    "parent": None,
                    "name": name,
                    "layer": layer,
                    "start_ms": start_s * 1000.0,
                    "end_ms": end_s * 1000.0,
                    **attrs,
                }
            )

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


# -- Spark event log --------------------------------------------------------


def _shuffle_bytes_by_stage(path: str) -> dict[int, int]:
    out: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            if '"SparkListenerTaskEnd"' not in line:
                continue
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            metrics = ev.get("Task Metrics") or {}
            written = (metrics.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            sid = ev.get("Stage ID")
            out[sid] = out.get(sid, 0) + int(written or 0)
    return out


def eventlog_file(eventlog_dir: str) -> str:
    files = [
        p
        for p in glob.glob(os.path.join(eventlog_dir, "*"))
        if not p.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log, found {files}")
    return files[0]


def attribute_jobs(path: str, spans: list[dict]) -> dict[int, dict]:
    """Assign every Spark job of the event log to each span whose time
    window contains its submission (inclusive: a wave span also owns
    the jobs of the commit span inside it); returns per-span totals
    (jobs, stages, tasks, task_ms, shuffle_bytes, job_busy_ms)."""
    from tools.stage_profile import parse_eventlog

    log = parse_eventlog(path)
    shuffle = _shuffle_bytes_by_stage(path)
    totals = {
        s["id"]: {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "task_ms": 0.0,
            "shuffle_bytes": 0,
            "intervals": [],
        }
        for s in spans
    }
    closed = [s for s in spans if s["end_ms"] is not None]
    for job in log["jobs"].values():
        submitted = job.get("submitted")
        if submitted is None:
            continue
        # skipped stages never complete and are not in log["stages"]
        done = [sid for sid in job["stage_ids"] if sid in log["stages"]]
        end = job.get("completed") or submitted
        for s in closed:
            if not s["start_ms"] <= submitted <= s["end_ms"]:
                continue
            t = totals[s["id"]]
            t["jobs"] += 1
            t["stages"] += len(done)
            t["tasks"] += sum(log["task_counts"].get(sid, 0) for sid in done)
            t["task_ms"] += sum(log["task_sums"].get(sid, 0.0) for sid in done)
            t["shuffle_bytes"] += sum(shuffle.get(sid, 0) for sid in done)
            t["intervals"].append((submitted, end))
    for s in spans:
        t = totals[s["id"]]
        intervals = t.pop("intervals")
        t["job_busy_ms"] = _union_ms(intervals, s) if s["end_ms"] else 0.0
    return totals


def _union_ms(intervals: list[tuple[float, float]], span: dict) -> float:
    lo, hi = span["start_ms"], span["end_ms"]
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    busy, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                busy += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        busy += cur_b - cur_a
    return busy


def per_op_profile(spans: list[dict], totals: dict[int, dict], layer: str) -> dict:
    """Mean per-operation Spark profile over the spans of one layer."""
    ops = [s for s in spans if s["layer"] == layer and s["end_ms"] is not None]
    if not ops:
        raise RuntimeError(f"no spans recorded for layer {layer!r}")
    n = len(ops)

    def mean(key):
        return sum(totals[s["id"]][key] for s in ops) / n

    gap_s = (
        sum(
            (s["end_ms"] - s["start_ms"] - totals[s["id"]]["job_busy_ms"])
            for s in ops
        )
        / n
        / 1000.0
    )
    return {
        "op.jobs": mean("jobs"),
        "op.stages": mean("stages"),
        "op.tasks": mean("tasks"),
        "op.task_ms": mean("task_ms"),
        "op.shuffle_bytes": mean("shuffle_bytes"),
        "op.driver_gap_s": gap_s,
    }


# -- statistics / output ------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


class Checks:
    """Correctness bookkeeping: every check and every timed operation
    is one attempt; a check that fails or an operation that raises is
    one failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def op(self, ok: bool = True, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.messages.append(what)

    def check(self, ok: bool, what: str) -> None:
        self.op(bool(ok), what)

    def report(self) -> None:
        for msg in self.messages[:20]:
            print(f"FAILED: {msg}", file=sys.stderr)


def result_line(checks: Checks, metrics: dict) -> str:
    return json.dumps(
        {
            "correct": checks.failed == 0,
            "attempted": checks.attempted,
            "failed": checks.failed,
            "metrics": metrics,
        }
    )
