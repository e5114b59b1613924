"""Spark's Python worker daemon, minus the per-task archive re-read.

Selected by ``session.get_spark`` through ``spark.python.daemon.module``;
Spark starts it as ``python -m dwp_hbase_to_mongo_export_spark.daemon
pyspark.worker`` and it forks every Python worker of the session.

Why: before each task, PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On Python 3.11 that makes every
``zipimporter`` on ``sys.path`` re-read its archive's whole central
directory: ``pyspark.zip`` (~1.3k entries) and the ``spark-core`` jar
(~5.4k entries, none of them Python) that Spark puts on the workers'
``PYTHONPATH``. That is ~0.18 CPU-s per task, more than the Python work
of a small export task.

The archives on ``sys.path`` when the daemon starts are Spark's own and
do not change while the session runs, so the daemon records them before
it forks any worker and makes ``invalidate_caches`` a no-op for those
archives only. Archives that join ``sys.path`` later (the SparkFiles
dir's ``addPyFile`` zips) are still re-read, and directory finders are
untouched. The daemon itself is PySpark's ``pyspark.daemon.manager``,
unchanged.

``spark.python.worker.module`` cannot carry this: ``pyspark.daemon``
only honours worker modules whose names start with ``pyspark``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_of(entry: str) -> str | None:
    """The archive a ``sys.path`` entry names, resolved the way
    ``zipimporter`` resolves its ``archive``: the longest existing
    prefix of the entry, if that is a regular file."""
    path = entry
    while path and not os.path.exists(path):
        parent = os.path.dirname(path)
        if parent == path:
            return None
        path = parent
    return path if path and os.path.isfile(path) else None


def skip_startup_archive_rereads() -> None:
    """Stop ``zipimporter.invalidate_caches`` re-reading the archives on
    ``sys.path`` now; archives added later are re-read as before. The
    skipped archives are the new method's ``startup_archives``."""
    startup = frozenset(a for a in map(_archive_of, sys.path) if a)
    reread_directory = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        if self.archive not in startup:
            reread_directory(self)

    invalidate_caches.startup_archives = startup
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    skip_startup_archive_rereads()  # before pyspark.daemon forks any worker
    from pyspark.daemon import manager

    manager()
