"""PySpark worker daemon: the import-cache fix installed before the fork,
and each reused worker's import-time heap frozen after the task that
built it.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Spark starts it once per Python environment (``python -m
tbl_spark._daemon``) and forks every Python worker from it, so every
worker inherits ``pyworker``'s wrapper: PythonRDD tasks, UDFs that never
import ``tbl_spark``, and each fresh worker's first task. Importing
``tbl_spark.pyworker`` loads only the stdlib, so the daemon holds no
numpy or pyarrow before it forks.

A reused worker (``SPARK_REUSE_WORKER``) runs a full ``gc.collect()``
after every task. Once a task has imported numpy, pyarrow, pandas and
``pyspark.worker`` that heap holds ~75k tracked objects, and each such
collection costs ~49 ms of CPU, several times a small task's own work.
So each worker's task runs through ``_freeze_after_imports``: after a
task that added modules, it collects once and then moves what survived,
which is import-time state, to the permanent generation
(``gc.freeze()``). Later collections scan only objects made since, and
each task's garbage is still collected as before. A pyspark without a
module-level ``worker_main`` runs its workers unwrapped and logs one
WARNING.
"""

import gc
import importlib
import logging
import os
import sys

from tbl_spark import pyworker

log = logging.getLogger("tbl_spark")


def _freeze_after_imports(run_task, reuse):
    """Wrap a worker's ``run_task(infile, outfile)``: when the worker is
    reused and the task grew ``sys.modules``, flush the task's output,
    collect, then freeze the survivors into the permanent generation."""
    if not reuse:
        return run_task

    def run(infile, outfile):
        n_modules = len(sys.modules)
        run_task(infile, outfile)
        if len(sys.modules) > n_modules:
            try:
                # the JVM gets the task's end before the collection runs
                outfile.flush()
            except OSError:
                return  # left to the daemon's own flush and its handling
            gc.collect()
            gc.freeze()

    return run


def main() -> None:
    pyworker.install()
    from pyspark import daemon
    # read each archive's directory once here: forked workers inherit the
    # record, so even their first task's invalidation re-reads nothing
    importlib.invalidate_caches()
    if hasattr(daemon, "worker_main"):
        daemon.worker_main = _freeze_after_imports(
            daemon.worker_main, bool(os.environ.get("SPARK_REUSE_WORKER")))
    else:
        log.warning("pyspark.daemon has no worker_main: Python workers run "
                    "without freezing their import-time heap, so each "
                    "reused worker's per-task gc.collect() scans all of it")
    daemon.manager()


if __name__ == "__main__":
    main()
