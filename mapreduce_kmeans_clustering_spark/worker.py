"""Policy for the engine's Spark Python workers (session.py holds the
driver's): one upstream defect, handled in one place.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py``, ``setup_spark_files``). On CPython
< 3.13 ``zipimport.zipimporter.invalidate_caches`` answers by
re-reading its archive's central directory at once, and a reused
worker holds one importer per imported package over ``pyspark.zip``,
the py4j zip and the Spark core jar on its ``PYTHONPATH``: ~27k
directory entries parsed per task, 170-310 ms before a UDF's first
line on a 4-core host, half of a 100k x 64 Lloyd step. CPython 3.13
made the call lazy and needs nothing.

``install`` backports that per worker process as a stat check: an
importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from when that importer last read
it, the rule ``FileFinder`` uses for directories. A rewritten archive
is re-read and a missing one empties the importer, as before. The
package ``__init__`` calls it when it is imported inside a task, so
the driver process is never patched.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` stat-checked in this
    process. Idempotent; a no-op on CPython >= 3.13."""
    stdlib = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(stdlib, "stat_checked", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None  # missing: let the stdlib empty the importer
        # stat before the read: a rewrite in between is seen next time
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            stdlib(self)
            self._read_stamp = stamp

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
