"""PySpark worker daemon with the import-cache fix installed before the fork.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Spark starts it once per Python environment (``python -m
tbl_spark._daemon``) and forks every Python worker from it, so every
worker inherits ``pyworker``'s wrapper: PythonRDD tasks, UDFs that never
import ``tbl_spark``, and each fresh worker's first task. Importing
``tbl_spark.pyworker`` loads only the stdlib, so the daemon holds no
numpy or pyarrow before it forks.
"""

import importlib

from tbl_spark import pyworker


def main() -> None:
    pyworker.install()
    from pyspark import daemon
    # read each archive's directory once here: forked workers inherit the
    # record, so even their first task's invalidation re-reads nothing
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
