"""Skip redundant zip-directory reloads in reused Python workers.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark.worker_util.setup_spark_files``).  Before Python 3.13 that makes
every cached ``zipimporter`` re-parse its archive's whole central directory:
pyspark.zip, the Spark jar, py4j and the ddspark zip, 17 importers and
0.12-0.30 s per task (median 0.2 s) on a 4-core host.  The guard re-reads an
archive only when its ``(st_mtime_ns, st_size)`` differs from the last read,
or when it cannot be stat'ed; otherwise the importer gets the directory of
that read, which is what a reload would return.  As in 3.13, one read serves
every importer of an archive.  A zip rewritten in place or deleted behaves
as before.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install_zip_guard() -> None:
    """Install the guard on ``zipimporter.invalidate_caches`` (idempotent)."""
    if sys.version_info >= (3, 13):  # 3.13 re-reads lazily, on next use
        return
    reload = zipimport.zipimporter.invalidate_caches
    if getattr(reload, "_ddspark_guard", False):
        return
    last_read = {}  # archive -> ((st_mtime_ns, st_size), directory)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            last_read.pop(self.archive, None)
            return reload(self)
        stamp = (st.st_mtime_ns, st.st_size)
        last = last_read.get(self.archive)
        if last is not None and last[0] == stamp:
            self._files = zipimport._zip_directory_cache[self.archive] = last[1]
            return
        reload(self)  # after the stat: a rewrite in between costs one more read
        last_read[self.archive] = (stamp, self._files)

    invalidate_caches._ddspark_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
