"""Python worker daemon that re-reads a zip archive only when it changed.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``), so that a
file shipped with ``sc.addPyFile`` after the first task imports on a reused
worker. On CPython 3.11 that call makes every cached ``zipimporter``
re-read its archive's central directory (``pyspark.zip`` about a dozen
times, plus the py4j zip and the shipped package zip) before any user code
runs, which dominates the CPU of a short task.

This module patches ``zipimport.zipimporter.invalidate_caches`` so an
importer skips the re-read while its archive's ``(st_mtime_ns, st_size)``
matches the stamp taken at its last read. The class is patched, not the
entries of ``sys.path_importer_cache``, because ``PathFinder`` on
``sys.meta_path`` walks that cache and invalidates every importer again.
The stamp lives on each importer: several importers (one per package
prefix) share one archive, and each holds its own ``_files``. A new
archive gets a new importer with no stamp, and ``FileFinder``s are still
invalidated, so late ``addPyFile`` files keep importing.

Run as the daemon with ``spark.python.daemon.module=
big_data_project_spark.worker_daemon``; ``session.get_spark`` sets it only
where this package is on the daemon's ``PYTHONPATH``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_bdps_stamp", None):
        _stock_invalidate(self)
        self._bdps_stamp = stamp


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

if __name__ == "__main__":
    # Register under the package name too, so an import of this module in
    # a forked worker finds the patched one instead of patching again.
    sys.modules.setdefault(__spec__.name, sys.modules[__name__])
    from pyspark import daemon

    daemon.manager()
