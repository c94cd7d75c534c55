"""Iceberg-emulated snapshot catalog (no Iceberg runtime jar exists in
this sandbox — SURVEY.md §7.0).

Emulates the Iceberg commit model over plain Parquet:

* immutable data files per snapshot under ``data/v{NNNN}/{table}/``;
* a JSON metadata file per snapshot (``metadata/v{NNNN}.json``) holding
  snapshot_id, parent_id, wave, per-partition lineage (shard id, bloom
  shard hash, emitted/dequeued counters) and table→path mapping;
* an atomically-replaced ``metadata/current`` pointer (write-temp +
  ``os.replace``, with the metadata and pointer files fsynced before the
  swap and the directory after it), so a killed job resumes from the
  last committed snapshot bit-identically (north rule).

The interface is deliberately catalog-shaped so a real Iceberg catalog
can be substituted when the runtime jar is available.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    wave: int
    tables: dict[str, str]
    lineage: list[dict[str, Any]] = field(default_factory=list)
    metrics: dict[str, Any] = field(default_factory=dict)


def _write_durable(path: str, text: str) -> None:
    with open(path, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())


class SnapshotCatalog:
    def __init__(self, root: str) -> None:
        self.root = root
        self.metadata_dir = os.path.join(root, "metadata")
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.metadata_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        # schemas of tables THIS catalog object has written, keyed by
        # (table, snapshot_id): read_table can then skip parquet schema
        # inference (a 1-task Spark job per read-back — ~6 such jobs per
        # crawl commit cycle).  Keyed per snapshot because a table's
        # schema may change between commits.  In-process metadata
        # only; a fresh process falls back to inference.
        self._schemas: dict[tuple[str, int], Any] = {}

    # -- commit ----------------------------------------------------------
    def commit(
        self,
        wave: int,
        tables: dict[str, DataFrame],
        appends: dict[str, DataFrame] | None = None,
        lineage: list[dict[str, Any]] | None = None,
        metrics: dict[str, Any] | None = None,
    ) -> Snapshot:
        """``tables`` are fully rewritten this snapshot; ``appends`` write
        only a DELTA file-set and inherit the parent's files (Iceberg
        manifest-style) — cumulative tables like the seen-set stay O(Δ)
        per commit instead of O(total).

        ``lineage`` may be a list (used as-is) or a zero-arg callable
        evaluated AFTER the data writes complete — the hook that lets a
        caller derive lineage from an ``Observation`` riding one of the
        write jobs instead of paying a separate collect job."""
        from concurrent.futures import ThreadPoolExecutor

        parent = self.current_snapshot_id()
        parent_snapshot = self.load_snapshot(parent) if parent else None
        snapshot_id = (parent or 0) + 1
        version = f"v{snapshot_id:04d}"
        table_paths: dict[str, Any] = {}

        jobs = []
        for name, df in tables.items():
            path = os.path.join(self.data_dir, version, name)
            jobs.append((df, path))
            table_paths[name] = path
        for name, delta in (appends or {}).items():
            path = os.path.join(self.data_dir, version, name)
            jobs.append((delta, path))
            previous: list[str] = []
            if parent_snapshot is not None and name in parent_snapshot.tables:
                entry = parent_snapshot.tables[name]
                previous = entry if isinstance(entry, list) else [entry]
            table_paths[name] = [*previous, path]

        # independent table writes run as concurrent Spark jobs: commit
        # latency ≈ the slowest write, not the sum (Iceberg commits the
        # same way — data files first, metadata swap last).  The pool
        # threads inherit the caller's local properties (its job
        # description), which plain threads would not.
        @inheritable_thread_target(SparkSession.active())
        def write(job):
            df, path = job
            df.write.mode("overwrite").parquet(path)

        with ThreadPoolExecutor(max_workers=max(1, len(jobs))) as pool:
            list(pool.map(write, jobs))
        for name, df in {**tables, **(appends or {})}.items():
            self._schemas[(name, snapshot_id)] = df.schema
        if callable(lineage):
            lineage = lineage()
        snapshot = Snapshot(
            snapshot_id=snapshot_id,
            parent_id=parent,
            wave=wave,
            tables=table_paths,
            lineage=lineage or [],
            metrics=metrics or {},
        )
        meta_path = os.path.join(self.metadata_dir, f"{version}.json")
        _write_durable(meta_path, json.dumps(snapshot.__dict__, indent=1))
        self._set_current(snapshot_id)
        return snapshot

    def _set_current(self, snapshot_id: int) -> None:
        # the metadata file and the new pointer reach the disk before the
        # swap, and the swap itself before commit returns: after a crash
        # ``current`` names either the old snapshot or a complete new one
        pointer = os.path.join(self.metadata_dir, "current")
        tmp = pointer + ".tmp"
        _write_durable(tmp, str(snapshot_id))
        os.replace(tmp, pointer)  # atomic commit point
        fd = os.open(self.metadata_dir, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)

    # -- read ------------------------------------------------------------
    def current_snapshot_id(self) -> int | None:
        pointer = os.path.join(self.metadata_dir, "current")
        if not os.path.exists(pointer):
            return None
        with open(pointer) as fh:
            return int(fh.read().strip())

    def load_snapshot(self, snapshot_id: int | None = None) -> Snapshot | None:
        snapshot_id = snapshot_id or self.current_snapshot_id()
        if snapshot_id is None:
            return None
        meta_path = os.path.join(self.metadata_dir, f"v{snapshot_id:04d}.json")
        with open(meta_path) as fh:
            raw = json.load(fh)
        return Snapshot(**raw)

    def read_table(
        self, spark: SparkSession, name: str, snapshot_id: int | None = None
    ) -> DataFrame:
        snapshot = self.load_snapshot(snapshot_id)
        if snapshot is None or name not in snapshot.tables:
            raise KeyError(f"table {name!r} not in snapshot {snapshot_id}")
        entry = snapshot.tables[name]
        paths = entry if isinstance(entry, list) else [entry]
        reader = spark.read
        schema = self._schemas.get((name, snapshot.snapshot_id))
        if schema is not None:
            # schema known from this object's own commit: skip parquet
            # footer inference (and its 1-task Spark job).  Every delta
            # of a table is written with the same schema by construction.
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def history(self) -> list[Snapshot]:
        out = []
        current = self.current_snapshot_id()
        while current:
            snap = self.load_snapshot(current)
            if snap is None:
                break
            out.append(snap)
            current = snap.parent_id
        return list(reversed(out))
