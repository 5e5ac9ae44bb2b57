"""SparkSession factory tuned for this engine.

Local mode is the test substrate, one task slot per CPU this process
may use; the conf is written so the same code runs unchanged on a
multi-executor cluster: Arrow on (pandas-UDF hot path), shuffle
partitions sized to the local core count rather than the 200 default.
AQE (runtime re-plan, skew-join handling, partition coalescing) is on
by Spark's own defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark() -> SparkSession:
    """Build (or fetch) the session.

    At cluster scale the master/memory settings come from spark-submit;
    everything set here is safe to keep: Arrow, UTC, shuffle partition
    sizing.
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
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
