"""PySpark worker daemon that stops re-reading zip archives on every task.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``.  Workers import PySpark from
``pyspark.zip`` and also carry the spark-core jar on ``sys.path``, so about
16 ``zipimporter`` objects are cached, and before CPython 3.12
``zipimporter.invalidate_caches`` re-parses the archive's whole central
directory each time (made lazy in 3.12, gh-103200): 0.14-0.22 s of a
0.28 s trivial 2-task job on a 4-CPU host.  Below 3.12 this module re-reads an
archive only when its ``(st_mtime_ns, st_size)`` changed or the importer's
cache is empty, so ``addPyFile`` archives still refresh; then it runs the
stock daemon, whose forked workers inherit the patch.
"""

import os
import sys
import zipimport

_read = {}  # archive path -> ((st_mtime_ns, st_size), its directory)
_stock = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    last = _read.get(self.archive)
    if key is not None and self._files and last is not None and last[0] == key:
        self._files = last[1]
        return
    _stock(self)
    _read[self.archive] = (key, self._files)


if __name__ == "__main__":
    import importlib

    from pyspark.daemon import manager

    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # one read per archive, before the forks
    manager()
