"""SparkSession factory tuned for this engine.

Local mode is the test substrate, one task slot per CPU this process
may use; the conf is written so the same code runs unchanged on a
multi-executor cluster: Arrow on (pandas-UDF hot path), shuffle
partitions sized to the local core count rather than the 200 default.
AQE (runtime re-plan, skew-join handling, partition coalescing) is on
by Spark's own defaults.  :func:`keep_launch_archives` is the Python
workers' half: this module is the session's Python daemon, which
applies it once and then forks every worker.

The JVM talks to its Python workers, to this daemon and to the driver's
accumulator server over Unix domain sockets, the only transport the
engine sets up.  Over Spark's default loopback TCP each Python task
waited ~40 ms for its first Arrow batch (the JVM does not set
``TCP_NODELAY`` on those sockets, which fits Nagle's algorithm meeting
delayed ACK), and the scorer's ~3 ms of NumPy sat behind that stall.
The sockets live in :data:`SOCKET_DIR`, a short fixed directory:
Spark's default is ``java.io.tmpdir``, and a socket's path
(``<dir>/.<uuid4>.sock``, 42 characters past the directory) must fit
the 107 characters of ``sun_path``, so a deep checkout or temp dir
would stop the session from starting.  The directory is a constant
that every host has, not one the driver makes, because a cluster's
executors read the same conf.  ``spark.stop()`` removes the driver's
socket files; a driver that exits without it leaves its accumulator
server's ``.sock`` file there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SOCKET_DIR = "/tmp"


def get_spark() -> SparkSession:
    """Build (or fetch) the session.

    At cluster scale the master/memory settings come from spark-submit;
    everything set here is safe to keep: Arrow, UTC, shuffle partition
    sizing, this module as the Python daemon (the workers must import
    the package, as the engine's UDFs need anyway), and Unix domain
    sockets in :data:`SOCKET_DIR` between the JVM and Python.
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
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", SOCKET_DIR)
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
