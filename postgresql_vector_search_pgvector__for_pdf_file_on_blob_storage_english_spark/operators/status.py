"""Chunk-lifecycle status store — the reference's Cosmos DB side-table.

Reference schema: ``CosmosDBDocument(id, fileName, status, pageNumber)``
(models/CosmosDBDocument.java:3) with the six-state machine of
models/CosmosDBDocumentStatus.java:5-10.  The reference's "replaceItem"
read-modify-write (BlobUploadDetector CosmosDBUtil.java:50-75) becomes a
set-oriented **last-write-wins upsert**: append status events, resolve
current state with one window over event time — SURVEY.md §1.2's
pure-Parquet mapping.  The store is the event log and has one writer,
the append; no keyed table is rewritten, so each chunk's full trail
stays readable.  (The reference also
sets COMPLETED unconditionally even after a failure —
Function.java:173-177 — a bug we deliberately do not replicate: here a
failed chunk terminates at FAILED_DB_INSERTION.)

Listings (PDF-Summarizer CosmosDBUtil.java:33,35):

    L1: SELECT * WHERE status  = 'COMPLETED' ORDER BY fileName, pageNumber
    L2: SELECT * WHERE status != 'COMPLETED' ORDER BY fileName, pageNumber

Scale notes: the upsert window shuffles by ``id`` only (narrow rows);
the listings are filter + sort, and Catalyst pushes the status predicate
into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Pinned to the reference enum ordinal (models/CosmosDBDocumentStatus.java:5-10)
# so fixtures derived by indexing into this list stay aligned with the
# reference's state numbering.  Tie-break precedence lives in _TIE_ORDER below,
# NOT in this list's order.
STATUS_VALUES = [
    "PAGE_SEPARATE_FINISHED",   # created after chunking
    "RETRY_OAI_INVOCATION",     # each failed embedding attempt
    "FINISH_OAI_INVOCATION",    # embedding obtained
    "FINISH_DB_INSERTION",      # vector row written
    "FAILED_DB_INSERTION",      # terminal failure
    "COMPLETED",                # terminal success
]

TERMINAL_STATES = {"COMPLETED", "FAILED_DB_INSERTION"}

# Same-timestamp tie-break precedence: state-machine progress order, with
# terminal failure outranking terminal success — a batch emitting both for one
# id must resolve to the failure.  Kept as an explicit map (not STATUS_VALUES
# order) so the enum list above can stay pinned to the reference ordinal.
_TIE_ORDER = [
    "PAGE_SEPARATE_FINISHED",
    "RETRY_OAI_INVOCATION",
    "FINISH_OAI_INVOCATION",
    "FINISH_DB_INSERTION",
    "COMPLETED",
    "FAILED_DB_INSERTION",
]


def status_upsert(events: DataFrame) -> DataFrame:
    """Resolve an append-only status-event log (the ``ingest_pages``
    status columns) to current state per ``id``.

    Last-write-wins on ``(updated_at, status-ordinal)`` — the ordinal
    breaks same-timestamp ties in state-machine order so a batch that
    emits several transitions at one timestamp resolves to the furthest
    state.  ``ingest_pages`` gives each chunk one trail that ends in
    exactly one terminal state; should a log still hold both for one id
    at one timestamp, the failure outranks the success.
    """
    ordinal = F.array_position(F.array(*[F.lit(s) for s in _TIE_ORDER]), F.col("status"))
    w = Window.partitionBy("id").orderBy(F.col("updated_at").desc(), ordinal.desc())
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def completed_listing(status_df: DataFrame) -> DataFrame:
    """L1 — registered (completed) chunks, (fileName, pageNumber) ascending."""
    return status_df.filter(F.col("status") == "COMPLETED").orderBy("fileName", "pageNumber")


def failed_listing(status_df: DataFrame) -> DataFrame:
    """L2 — everything not completed, (fileName, pageNumber) ascending."""
    return status_df.filter(F.col("status") != "COMPLETED").orderBy("fileName", "pageNumber")
