"""Snapshot catalog publish order."""

from __future__ import annotations

import os

from parsel_spark.sources import snapshots
from parsel_spark.sources.snapshots import SnapshotCatalog


def test_commit_fsyncs_metadata_and_pointer_before_swap(spark, tmp_path, monkeypatch):
    """``commit`` fsyncs ``v{N}.json`` and ``current.tmp``, then swaps the
    pointer, then fsyncs the metadata directory.

    This pins the order of the calls only; it does not simulate a power
    loss, so it cannot show that the disk honours them.
    """
    events = []
    real_fsync, real_replace = os.fsync, os.replace

    def fsync(fd):
        st = os.fstat(fd)
        events.append(("fsync", (st.st_dev, st.st_ino)))
        return real_fsync(fd)

    def replace(src, dst):
        events.append(("replace", (os.path.basename(src), os.path.basename(dst))))
        return real_replace(src, dst)

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    df = spark.createDataFrame([(1,)], "id long")
    monkeypatch.setattr(snapshots.os, "fsync", fsync)
    monkeypatch.setattr(snapshots.os, "replace", replace)
    snap = cat.commit(wave=0, tables={"t": df})
    monkeypatch.undo()

    def ident(path):
        st = os.stat(path)
        return ("fsync", (st.st_dev, st.st_ino))

    meta = cat.metadata_dir
    assert events == [
        ident(os.path.join(meta, "v0001.json")),
        # os.replace keeps the inode: the fsynced tmp is the new pointer
        ident(os.path.join(meta, "current")),
        ("replace", ("current.tmp", "current")),
        ident(meta),
    ]
    assert cat.current_snapshot_id() == snap.snapshot_id == 1
    assert cat.load_snapshot().tables == {"t": os.path.join(cat.data_dir, "v0001", "t")}
