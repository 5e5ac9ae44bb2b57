"""Keyed upsert of the status store (operators/upsert.py), a Parquet
last-write-wins rewrite.

The invariant under test: N sequential ``merge_status`` batches produce
exactly ``status_upsert`` over the concatenation of all batches — i.e.
incremental merge == batch re-resolution.
"""

from __future__ import annotations

import datetime as dt

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.status import (
    status_upsert,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.upsert import (
    merge_status,
)

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, f, s, p, T0 + dt.timedelta(seconds=off)) for i, f, s, p, off in rows],
        "id string, fileName string, status string, pageNumber int, updated_at timestamp",
    )


BATCH1 = [
    ("a", "x.pdf", "PAGE_SEPARATE_FINISHED", 1, 0),
    ("a", "x.pdf", "FINISH_OAI_INVOCATION", 1, 1),
    ("b", "x.pdf", "PAGE_SEPARATE_FINISHED", 2, 0),
]
BATCH2 = [
    ("a", "x.pdf", "COMPLETED", 1, 2),
    ("b", "x.pdf", "FAILED_DB_INSERTION", 2, 3),
    ("c", "y.pdf", "PAGE_SEPARATE_FINISHED", 1, 3),
]
# same-timestamp tie: failure must outrank success (status.py tie order)
BATCH3 = [
    ("c", "y.pdf", "COMPLETED", 1, 4),
    ("c", "y.pdf", "FAILED_DB_INSERTION", 1, 4),
]
# stale replay: older events must not regress resolved state
BATCH4 = [
    ("a", "x.pdf", "PAGE_SEPARATE_FINISHED", 1, 0),
]


def _expected(spark):
    all_events = _events(spark, BATCH1 + BATCH2 + BATCH3 + BATCH4)
    return {
        r["id"]: (r["status"], r["updated_at"])
        for r in status_upsert(all_events).collect()
    }


def _read(spark, path):
    return {
        r["id"]: (r["status"], r["updated_at"])
        for r in spark.read.parquet(path).collect()
    }


def test_incremental_merge_equals_batch_resolution(spark, tmp_path):
    path = str(tmp_path / "status_store")
    for batch in (BATCH1, BATCH2, BATCH3, BATCH4):
        merge_status(spark, path, _events(spark, batch))
    got = _read(spark, path)
    assert got == _expected(spark)
    assert got["b"][0] == "FAILED_DB_INSERTION"
    assert got["c"][0] == "FAILED_DB_INSERTION"  # tie: failure outranks
    assert got["a"][0] == "COMPLETED"  # stale replay ignored


def test_merge_idempotent_under_replay(spark, tmp_path):
    path = str(tmp_path / "status_store")
    for _ in range(2):
        for batch in (BATCH1, BATCH2, BATCH3, BATCH4):
            merge_status(spark, path, _events(spark, batch))
    assert _read(spark, path) == _expected(spark)
