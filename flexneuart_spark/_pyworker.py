"""Inside a PySpark worker: rescan the import caches only when what can be
imported changes.

pyspark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py::setup_spark_files``) so that files added with
``addPyFile`` are importable. When pyspark itself is imported from
``pyspark.zip``, that call makes every zip importer re-read its archive
directory — 100–200 ms per task on CPython 3.11, against ~0.1 ms in the
driver. ``install`` swaps the worker's ``importlib`` for a proxy whose
``invalidate_caches()`` runs the real call only when its key changes:
``sys.path``, the SparkFiles root, and that root's file names and mtimes
(what ``addPyFile`` and ``--py-files`` change).
"""

from __future__ import annotations

import importlib
import os
import sys


class _Importlib:
    def __init__(self) -> None:
        self.rescans = 0  # real invalidate_caches() calls made through the proxy
        self._key = None

    def __getattr__(self, name):
        return getattr(importlib, name)

    def invalidate_caches(self) -> None:
        from pyspark.core.files import SparkFiles

        root = SparkFiles._root_directory
        try:
            files = tuple(sorted((e.name, e.stat().st_mtime_ns) for e in os.scandir(root))) if root else ()
        except OSError:  # a file vanished mid-scan (a fetch in progress): count it as a change
            files = None
        key = (tuple(sys.path), root, files)
        if files is None or key != self._key:
            importlib.invalidate_caches()
            self.rescans += 1
            self._key = key


def install() -> None:
    """Swap in the proxy when running inside a PySpark worker; a no-op in
    the driver and when already installed."""
    worker_util = sys.modules.get("pyspark.worker_util")
    if worker_util is None or isinstance(worker_util.importlib, _Importlib):
        return
    from pyspark.core.files import SparkFiles

    if SparkFiles._is_running_on_worker:
        worker_util.importlib = _Importlib()
