"""Keyed upsert for the status store — SURVEY §1.2's primary mapping.

The reference mutates one Cosmos DB item per chunk via read-modify-
``replaceItem`` (CosmosDBUtil.java:50-75).  The set-oriented analog is a
keyed merge into one Parquet table: per key keep the row that wins
last-write-wins on ``(ts, status-ordinal)`` — the exact resolution
``status_upsert`` (operators/status.py) applies to an event log.

One physical strategy: read the table, union the incoming batch,
resolve with ``status_upsert``, rewrite.  A batch that carries several
events for one key merges its winner only, and a stale replay never
regresses a resolved key.  Single-writer only: two concurrent merges
into one path lose one of the batches.  Read the table back with
``spark.read.parquet(path)``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .status import status_upsert


def merge_status(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    id_col: str = "id",
    ts_col: str = "updated_at",
) -> None:
    """Upsert ``updates`` (an event batch) into the keyed status table at
    ``path``, creating it on the first batch."""
    if os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path)):
        current = spark.read.parquet(path)
        merged = current.unionByName(updates.select(*current.columns))
    else:
        merged = updates
    resolved = status_upsert(merged, id_col=id_col, ts_col=ts_col)
    # Materialize before overwriting the path the plan reads from.
    resolved.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)
