"""Re-read a zip archive's directory only when the archive changed.

A PySpark worker calls ``importlib.invalidate_caches()`` before every
task (``setup_spark_files`` in ``pyspark/worker_util.py``). Before
CPython 3.13, ``zipimport.zipimporter.invalidate_caches`` answers by
parsing its archive's whole central directory again in pure Python,
once for every zipimporter in ``sys.path_importer_cache``. A worker
holds 16 of them: 12 package directories of ``pyspark.zip`` (1,328
entries), 2 of the spark-core jar Spark puts on the worker
``PYTHONPATH`` (5,359 entries) and 2 of py4j. That is about 0.25 s of
fixed cost per task (4-core box, Python 3.11.7, PySpark 4.1.2) while the
archives never change. CPython 3.13 made the method lazy: it only drops
the cached directory.

``install()`` replaces the method, on interpreters before 3.13, with one
that re-reads only when the archive's ``(st_mtime_ns, st_size)`` differs
from the last read by that importer, so an archive rewritten in place is
still re-read. Archives added later (``addPyFile``) are new path entries
with new importers and read their directory as before.
"""

from __future__ import annotations

import os
import sys
import zipimport

_eager_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None  # gone or unreadable: the eager path clears the cache
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _eager_invalidate(self)
        self._read_stamp = stamp


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` stat-gated (idempotent; a
    no-op on CPython 3.13+, whose method is already lazy)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
