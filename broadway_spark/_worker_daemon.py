"""Python-worker daemon entry: ``pyspark.daemon`` without the per-task
zip re-read.

Spark's Python workers import pyspark from ``pyspark.zip``, and before
every task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On CPython 3.11/3.12 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-parse its archive's
whole central directory (pyspark.zip holds ~1,300 entries and a worker
holds ~16 importers over it): about 0.2 s of CPU per task, whatever the
task's row count. Here a zipimporter re-reads its archive only when the
archive's ``(st_mtime_ns, st_size)`` changed since that importer last
read it; then ``pyspark.daemon`` runs unchanged. CPython 3.13 reads the
directory lazily, so nothing is installed there.

``session.builder`` selects this module through
``spark.python.daemon.module`` (``spark.python.worker.module`` only
accepts ``pyspark.*`` names).
"""

import os
import runpy
import sys
import zipimport

_reload = zipimport.zipimporter.invalidate_caches


def archive_stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """Reload the archive's file data only if the archive changed."""
    # stat before reading: a rewrite in between leaves an older stamp,
    # so the next call reads again instead of keeping stale entries
    stamp = archive_stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _reload(self)
        self._archive_stamp = stamp


def install() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
