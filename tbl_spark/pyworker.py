"""Cut the per-task import-cache cost of PySpark Python workers.

Every PySpark task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.13,
``zipimport.zipimporter.invalidate_caches`` eagerly re-parses its
archive's whole central directory in pure Python, and a worker that
imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` holds one
zipimporter per pyspark sub-package. So each task re-reads that
directory once per importer (16 importers × 1,328 entries for Spark
4.1), which is most of a small task's CPU. CPython 3.13 only drops the
cache entry and reads lazily.

``install()`` makes the re-read conditional: an archive is re-read only
when its ``(st_ino, st_size, st_mtime_ns)`` differs from the stat taken
just before its last read, and every importer of an unchanged archive
shares that read. A changed or replaced archive is re-read exactly as
before. Non-zip finders are untouched, and on 3.13+ it is a no-op.

``session.get_spark`` runs the Python workers' daemon from
``tbl_spark._daemon``, which calls ``install()`` before Spark forks any
worker, so every worker starts with the wrapper: PythonRDD tasks, UDFs
that never import ``tbl_spark``, and each fresh worker's first task. A
``tbl_spark`` loaded from a zip (``--py-files``) keeps Spark's default
daemon, because the daemon starts before ``--py-files`` reach a worker's
``sys.path``; ``get_spark`` logs a WARNING saying so. Importing
``tbl_spark`` also calls ``install()``, which covers such workers from
their next task on.

The same daemon also cuts the other fixed per-task cost, the full
``gc.collect()`` a reused worker runs after every task: it freezes each
worker's import-time heap after the task that imported it (see
``tbl_spark._daemon``). Workers of Spark's default daemon keep that
cost.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> (stat key taken just before the read, directory read)
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process."""
    if sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches
    if hasattr(original, "__wrapped__"):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        key = _stat_key(self.archive)
        last = _last_read.get(self.archive)
        if key is not None and last is not None and last[0] == key:
            self._files = last[1]
            zipimport._zip_directory_cache[self.archive] = last[1]
            return
        original(self)
        # a failed read (ZipImportError) drops the cache entry; recording
        # it would later revive an empty directory for a bad archive
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _last_read[self.archive] = (key, self._files)
        else:
            _last_read.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
