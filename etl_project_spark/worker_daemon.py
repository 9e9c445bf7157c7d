"""The Python worker daemon ``get_spark`` starts (``spark.python.daemon.module``).

It is ``pyspark.daemon`` with one change made before the daemon forks its
first worker: ``zipimport.zipimporter.invalidate_caches`` re-reads an
archive's table of contents only when the archive's ``(mtime_ns, size)``
has changed since the last read.

Why: every task a Python worker runs starts with PySpark's
``setup_spark_files``, which calls ``importlib.invalidate_caches()``. On
Python 3.11 that makes every cached ``zipimporter`` re-read its whole
archive directory. With ``SPARK_HOME`` set, the worker imports pyspark
from ``pyspark.zip``, so about 16 importers re-read pyspark.zip (1,328
entries, once per package prefix), the Spark core jar (5,359 entries)
and py4j: 0.13-0.29 s per task, before the user's function starts. An
archive that has not changed on disk has nothing new to list, so the
patched method keeps what it read. On Python >= 3.12 ``invalidate_caches``
only drops a cache that is re-read lazily, and the patch is harmless.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self) -> None:
    """Re-read the archive's directory only if the file changed since
    this importer last read it (an unreadable archive always re-reads,
    so the stock error handling applies)."""
    stamp = _stamp(self.archive)
    if stamp is not None and getattr(self, "_read_stamp", None) == stamp:
        return
    _reread(self)
    self._read_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and stamp every importer
    already cached, so forked workers inherit importers that skip the
    re-read while their archive is unchanged."""
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
