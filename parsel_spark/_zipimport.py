"""Skip zipimport's re-read of an unchanged archive.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before Python 3.13,
``zipimport.zipimporter.invalidate_caches`` answers that by re-parsing the
archive's whole central directory in pure Python. A worker that imports
pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` holds one importer per
package path inside it, plus importers on the py4j zip and the Spark core
jar: about 27k directory entries, re-read on every task, which costs a
Python task 150-250 ms before it reaches its own code. Python 3.13 only
drops the shared cache entry there, so nothing is installed from 3.13 on.

The guard re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` differs from the stamp taken just before that importer's last
read. A rewritten or replaced archive still reloads; a first call, with no
stamp yet, reloads as before.

``parsel_spark/__init__.py`` installs it. Every worker that unpickles a
``parsel_spark`` function imports the package, so the guard is live in
that worker from its next task on.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process (< 3.13)."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stat_guarded", False):
        return

    @functools.wraps(reread)
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is not None and stamp == getattr(self, "_stat_stamp", None):
            return
        reread(self)
        self._stat_stamp = stamp

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
