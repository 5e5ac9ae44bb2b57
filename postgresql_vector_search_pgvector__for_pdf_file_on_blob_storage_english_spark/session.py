"""SparkSession factory tuned for this engine.

Local mode is the test substrate; the conf is written so the same code
runs unchanged on a multi-executor cluster: AQE on (runtime re-plan,
skew-join handling, partition coalescing), Arrow on (pandas-UDF hot
path), shuffle partitions sized to the local core count rather than the
200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "pgvector_pdf_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    At cluster scale the master/memory settings come from spark-submit;
    everything set here is safe to keep: AQE, Arrow, UTC, shuffle
    partition sizing.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
