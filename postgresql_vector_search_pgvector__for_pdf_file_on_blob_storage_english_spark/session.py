"""SparkSession factory tuned for this engine.

Local mode is the test substrate, one task slot per CPU this process
may use; the conf is written so the same code runs unchanged on a
multi-executor cluster: Arrow on (pandas-UDF hot path), shuffle
partitions sized to the local core count rather than the 200 default.
AQE (runtime re-plan, skew-join handling, partition coalescing) is on
by Spark's own defaults.  :func:`keep_launch_archives` is the Python
workers' half: this module is the session's Python daemon, which
applies it once and then forks every worker.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark() -> SparkSession:
    """Build (or fetch) the session.

    At cluster scale the master/memory settings come from spark-submit;
    everything set here is safe to keep: Arrow, UTC, shuffle partition
    sizing, and this module as the Python daemon (the workers must import
    the package, as the engine's UDFs need anyway).
    """
    cpus = len(os.sched_getaffinity(0))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("pgvector_pdf_spark")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", __name__)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def keep_launch_archives() -> None:
    """Stop this process's Python workers re-reading the archives they
    were launched with.

    Before each task, ``pyspark.worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()``, and under CPython 3.11 every
    ``zipimporter`` on the path then re-reads its whole archive
    directory.  A worker imports pyspark from the ``pyspark.zip``,
    py4j zip and spark-core jar that Spark puts on its launch
    ``PYTHONPATH``: 16 importers, ~80 ms per task on a 4-core host.  Those
    files do not change while the worker lives, so after this call a
    zip importer of one of them keeps its directory.  Every other
    finder is still invalidated, so ``.py`` and ``.zip`` files added
    with ``addPyFile`` (copied into the SparkFiles root, not the launch
    path) still import.  The daemon below calls it before it forks a
    worker, so every task runs with it, the first included.
    """
    import zipimport

    launch = frozenset(p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if os.path.isfile(p))
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if self.archive not in launch:
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":  # spark.python.daemon.module: workers fork from here
    keep_launch_archives()
    from pyspark.daemon import manager

    manager()
