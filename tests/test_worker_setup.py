"""The zipimport guard installed by ``parsel_spark`` (``_zipimport.py``).

PySpark's worker calls ``importlib.invalidate_caches()`` on every task;
before Python 3.13 each zip importer then re-reads its archive's central
directory. The guard skips that re-read while the archive's stat stamp is
unchanged, and still reloads a rewritten archive.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

import parsel_spark  # noqa: F401  (installs the guard)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimporter.invalidate_caches no longer re-reads from 3.13 on",
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


def _count_reads(archive=None):
    """Run ``importlib.invalidate_caches()`` and count directory reads
    (of ``archive`` only, when given)."""
    real = zipimport._read_directory
    reads = []

    def spy(path):
        if archive is None or path == archive:
            reads.append(path)
        return real(path)

    zipimport._read_directory = spy
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real
    return len(reads)


def test_unchanged_archive_is_not_reread_and_rewrite_reloads(tmp_path):
    archive = str(tmp_path / "guarded_mods.zip")
    _write_zip(archive, {"zguard_first": "VALUE = 1\n"})
    sys.path.insert(0, archive)
    try:
        import zguard_first

        assert zguard_first.VALUE == 1
        _count_reads(archive)  # stamps every importer
        assert _count_reads(archive) == 0

        before = os.stat(archive)
        _write_zip(
            archive,
            {"zguard_first": "VALUE = 1\n", "zguard_added": "VALUE = 2 * 21\n"},
        )
        os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
        assert os.stat(archive).st_size != before.st_size

        assert _count_reads(archive) >= 1
        import zguard_added

        assert zguard_added.VALUE == 42
        assert _count_reads(archive) == 0
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("zguard_first", "zguard_added"):
            sys.modules.pop(name, None)


def test_guard_installed_once_across_reload():
    from parsel_spark import _zipimport

    guard = zipimport.zipimporter.invalidate_caches
    assert guard._stat_guarded
    assert not getattr(guard.__wrapped__, "_stat_guarded", False)

    importlib.reload(_zipimport)
    _zipimport.install()
    importlib.reload(parsel_spark)

    assert zipimport.zipimporter.invalidate_caches is guard


def _probe(batches):
    import pandas as pd

    for _ in batches:
        pass
    importers = sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )
    # The first call stamps every importer: in a fresh worker the task's
    # own setup call ran before this module's import installed the guard.
    _count_reads()
    yield pd.DataFrame({"importers": [importers], "reads": [_count_reads()]})


def test_guard_is_live_in_spark_workers(spark):
    rows = (
        spark.range(0, 64, numPartitions=4)
        .mapInPandas(_probe, "importers long, reads long")
        .collect()
    )
    assert len(rows) == 4
    # Workers import pyspark from its zip, so there is something to guard.
    assert all(r.importers > 0 for r in rows), rows
    assert all(r.reads == 0 for r in rows), rows
