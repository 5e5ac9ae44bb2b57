"""Arrival-driven ingestion — the reference's blob trigger as
Structured Streaming (SURVEY.md §1.4, §2.5).

The reference processes each uploaded blob independently, with no
cross-event state, no watermarks, no event-time windows
(Function.java:73-90): the correct Spark mapping is **stateless**
streaming — the same batch transformation applied per micro-batch via
``foreachBatch``.  One codepath, two execution modes:

* batch: ``ingest_pages(pdf_source(spark, dir))``
* incremental: this module — ``pdf_source(..., stream=True)`` with
  the same downstream pipeline; ``Trigger.AvailableNow`` drains the
  backlog and stops (the "catch up, then exit" operational mode),
  omit it for continuous arrival processing.

File-arrival tracking (which blobs are new) is the source's checkpoint
state — the bookkeeping the Functions host does for the reference's
trigger.  It is not transactional with the sink writes: ``foreachBatch``
makes two plain parquet appends (corpus, then status), so delivery is
at-least-once.  A micro-batch replayed after a crash repeats both
appends, and a crash between them leaves stored chunks without a status
trail until the replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.embed import DEFAULT_DIM
from ..operators.ingest import ingest_pages, write_corpus
from ..sources.pdf import pdf_source


def ingest_stream(
    spark: SparkSession,
    input_dir: str,
    corpus_path: str,
    status_path: str,
    checkpoint_dir: str,
    dim: int = DEFAULT_DIM,
    embed_fn=None,
    available_now: bool = True,
):
    """Start the arrival-driven ingest of the ``*.pdf`` files arriving in
    ``input_dir``; returns the StreamingQuery.

    ``foreachBatch`` runs the identical batch pipeline per micro-batch,
    so batch and streaming results are the same relation (stateless by
    design — the reference has no cross-event semantics to preserve).
    A failure quarantines, it does not stop the stream: a file that
    does not decode gives no chunks, and a chunk whose embedding batch
    fails every retry is kept out of the corpus with a trail ending at
    FAILED_DB_INSERTION, so no micro-batch is replayed forever.
    """

    def process(pages: DataFrame, batch_id: int) -> None:
        corpus, status_events = ingest_pages(pages, dim=dim, embed_fn=embed_fn)
        write_corpus(corpus, corpus_path)
        status_events.write.mode("append").parquet(status_path)

    writer = (
        pdf_source(spark, input_dir, stream=True)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
