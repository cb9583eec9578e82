"""SparkSession factory with scale-appropriate defaults.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores);
on a real cluster the same settings apply per-executor. AQE is on so skewed
shuffle partitions are split at runtime (backup for our explicit salting).

Python workers fork from ``tbl_spark._daemon``, which installs
``pyworker``'s import-cache fix before the fork, when ``tbl_spark`` is
loaded from a directory. That directory must be importable by the
workers' interpreter (from the working directory or ``PYTHONPATH``), as
every UDF of the library already requires. A ``tbl_spark`` loaded from a
zip (``--py-files``) keeps Spark's default daemon: the daemon starts
before ``--py-files`` reach a worker's ``sys.path``, so it could not
import the module and every Python task would die.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger("tbl_spark")

DAEMON_MODULE = "tbl_spark._daemon"


def daemon_module() -> str | None:
    """``DAEMON_MODULE`` when ``tbl_spark`` is loaded from a directory;
    None, with one WARNING, when it is loaded from an archive."""
    import tbl_spark
    if os.path.isfile(tbl_spark.__file__):
        return DAEMON_MODULE
    log.warning(
        "tbl_spark is loaded from %s, not from a directory: Python workers "
        "keep Spark's default daemon, which starts before --py-files reach "
        "their sys.path; tasks that never import tbl_spark re-read "
        "pyspark.zip's directory", tbl_spark.__file__)
    return None


def get_spark(cores: int | str | None = None,
              shuffle_partitions: int | None = None,
              app_name: str = "tbl_spark") -> SparkSession:
    cores = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        n = os.cpu_count() or 8 if cores == "*" else int(cores)
        shuffle_partitions = max(32, 4 * n)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.local.dir", "/tmp/spark-local")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
    )
    daemon = daemon_module()
    if daemon is not None:
        builder = builder.config("spark.python.daemon.module", daemon)
    return builder.getOrCreate()
