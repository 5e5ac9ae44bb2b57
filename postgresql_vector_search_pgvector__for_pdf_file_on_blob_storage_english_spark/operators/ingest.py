"""Ingestion pipeline assembly — the Spark restatement of the
reference's blob-upload path (SURVEY.md §3.1; Function.java:73-178).

Reference control flow (per file, per page, per chunk, sequential with
sleeps):  extract pages -> normalize -> chunk -> [status PAGE_SEPARATE_
FINISHED] -> embed (3 retries) -> [FINISH_OAI_INVOCATION] -> JDBC
INSERT -> [FINISH_DB_INSERTION] -> [COMPLETED | FAILED_DB_INSERTION].

Spark restatement: one staged relation, decided once per chunk —

    pages -> normalize (native regex) -> chunk (native bounds scan)
          -> posexplode -> deterministic chunk id
          -> embed (Arrow-batched pandas UDF)           [staged]
          -> VECTOR(n) check -> corpus rows (§1.1) + status trail

The reference's per-chunk Cosmos writes become one set-oriented append
of the status trail, resolved with operators.status.status_upsert.
Per-chunk sequencing, 20 ms pacing and per-chunk JDBC connections
disappear — batching *is* the rate limiter, and one write per job
replaces row-at-a-time inserts.

Scale notes: two Python stages, both Arrow-batched: the PDF page decode
(a ``mapInPandas`` in sources.pdf) and the embedder.  The chunker is
native, so the corpus text crosses the JVM<->Python boundary once.
Everything else is whole-stage codegen.  The pipeline is narrow from
page rows to the staged relation; ``write_corpus`` then shuffles the
corpus rows, embeddings included, on the ``fileName`` bucket, so each
write lays out one file per touched bucket whatever the page split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.embed import DEFAULT_DIM, make_embedder
from ..functions.hashing import chunk_id
from ..functions.text import chunk_exploded

CORPUS_COLS = ["id", "embedding", "origntext", "fileName", "pageNumber", "chunk_index"]


def pages_to_chunks(pages: DataFrame) -> DataFrame:
    """(fileName, pageNumber, text) -> ``(id, origntext, fileName,
    pageNumber, chunk_index)``, one row per chunk, in one projection
    over :func:`..functions.text.chunk_exploded` (P2 + P3 + P6).

    The reference draws a random UUID per chunk (Function.java:139);
    identity here is content-addressed — sha2(fileName § pageNumber §
    chunk_index) — so re-ingesting a file gives the same keys.
    """
    # Fully native chunking (functions/text.py::chunk_exploded): the page
    # text does not cross the Python boundary to find cut points, so the
    # corpus text crosses JVM<->Python once, into the embedder.
    return chunk_exploded(pages.select("fileName", "pageNumber", "text")).select(
        chunk_id("fileName", "pageNumber", "chunk_index").alias("id"),
        F.col("chunk_text").alias("origntext"),
        "fileName",
        "pageNumber",
        "chunk_index",
    )


def embed_chunks(
    chunks: DataFrame,
    dim: int = DEFAULT_DIM,
    embed_fn=None,
    text_col: str = "origntext",
) -> DataFrame:
    """P5: attach the embedding column (Arrow-batched; deterministic
    local embedder unless a real endpoint is injected).  A batch the
    endpoint still rejects after its retries gets null vectors, which
    the ``VECTOR(n)`` check quarantines."""
    embedder = make_embedder(dim=dim, embed_fn=embed_fn)
    return chunks.withColumn("embedding", embedder(F.col(text_col)))


def _vector_ok(dim: int) -> Column:
    """pgvector's ``VECTOR(n)`` insert check (SURVEY.md §1.1) as a
    predicate: the embedding is present, has ``dim`` components, and
    each is a finite number (pgvector refuses a null, NaN or infinite
    component: "NaN not allowed in vector")."""
    e, inf = F.col("embedding"), F.lit(float("inf"))
    # NaN sorts above +inf, and array_contains is null, not false, for an
    # array holding a null.  Native terms: a per-element F.forall cost ~2%
    # of ingest_pdf pages/s (4-core host).
    finite = (F.array_min(e) > -inf) & (F.array_max(e) < inf) & F.array_contains(e, inf).eqNullSafe(False)
    return e.isNotNull() & (F.size(e) == F.lit(dim)) & finite


# Per-chunk status trail: every chunk was separated from its page; the
# OAI/DB stage events happened only for a chunk whose vector passed the
# check (Function.java:149, 165), and the terminal event follows the
# check — the conditional the reference forgot (Function.java:177).
_STORED_TRAIL = [
    "PAGE_SEPARATE_FINISHED", "FINISH_OAI_INVOCATION", "FINISH_DB_INSERTION", "COMPLETED"
]
_REJECTED_TRAIL = ["PAGE_SEPARATE_FINISHED", "FAILED_DB_INSERTION"]


def ingest_pages(
    pages: DataFrame,
    dim: int = DEFAULT_DIM,
    embed_fn=None,
) -> tuple[DataFrame, DataFrame]:
    """Full §3.1 pipeline from a page relation.

    Returns ``(corpus, status_events)``, both read from one staged
    relation, ``embed_chunks(pages_to_chunks(pages))``.  It is
    materialized the first time either frame is used, so writing both
    decodes each page and embeds each chunk once, and the two frames
    always agree on which chunks passed.  The staged rows live in the
    executors' block managers (a local checkpoint, not a cache entry)
    and are not recomputed if an executor is lost: a job that reads
    them after that fails, and the ingest is run again.  ``pages`` is a
    batch relation; :func:`..streaming.ingest_stream.ingest_stream` calls
    this once per micro-batch.

    * corpus — the §1.1 vector-table schema (+ chunk_index), holding
      only the rows whose embedding passes the ``VECTOR(n)`` check
      (:func:`_vector_ok`); pgvector would hold the same rows.
    * status_events — one event per chunk per stage of its trail.  A
      stored chunk gets PAGE_SEPARATE_FINISHED, FINISH_OAI_INVOCATION,
      FINISH_DB_INSERTION, COMPLETED; a rejected one (null vector from a
      quarantined batch, wrong length, or a null, NaN or infinite
      component) gets PAGE_SEPARATE_FINISHED, FAILED_DB_INSERTION.  The
      unconditional-COMPLETED bug (Function.java:177) is not replicated.

    No chunk fails the ingest: a batch the endpoint rejects on every
    retry is quarantined as rejected chunks, and the other batches are
    stored, as the reference marks the chunk FAILED_DB_INSERTION and
    moves on (Function.java:173-174).
    """
    # The check is a staged column, evaluated once per chunk in the
    # projection after the embedder: inside the status trail's explode it
    # cost ~0.4 ms per chunk at dim 1536 (4-core host).
    staged = (
        embed_chunks(pages_to_chunks(pages), dim=dim, embed_fn=embed_fn)
        .withColumn("_stored", _vector_ok(dim))
        .localCheckpoint(eager=False)
    )
    ok = F.col("_stored")
    corpus = staged.filter(ok).select(*CORPUS_COLS)
    trail = F.when(ok, F.array(*map(F.lit, _STORED_TRAIL))).otherwise(
        F.array(*map(F.lit, _REJECTED_TRAIL))
    )
    # Hash-partitioned on fileName, so the status write lays out one file
    # per (AQE-coalesced) shuffle partition, not one per page-read split.
    status_events = staged.select(
        "id",
        "fileName",
        F.explode(trail).alias("status"),
        "pageNumber",
        F.current_timestamp().alias("updated_at"),
    ).repartition("fileName")
    return corpus, status_events


# The corpus layout: rows live in ``bucket=b`` directories, b =
# pmod(xxhash64(fileName), CORPUS_BUCKETS), so all chunks of one source
# file share a bucket and the fan-out stays bounded.
CORPUS_BUCKETS = 64


def _bucket() -> Column:
    return F.pmod(F.xxhash64("fileName"), F.lit(CORPUS_BUCKETS))


def write_corpus(corpus: DataFrame, path: str) -> None:
    """S3 as a bulk columnar append — the corpus's one writer, as the
    reference's one JDBC ``INSERT`` (Function.java:165) is pgvector's.

    ``fileName``-hash bucket as the partition column: bounded fan-out
    (:data:`CORPUS_BUCKETS` directories), no per-file skew, and chunk
    locality per source file for embedding-scan queries.  Rows are
    shuffled on the bucket first, so each call writes one file per
    touched bucket whatever the input's partitioning (reads split per
    core; AQE coalesces the small shuffle).  Nothing rewrites or deletes
    stored rows: appending a file's chunks again stores them twice.
    """
    (
        corpus.withColumn("bucket", _bucket())
        .repartition("bucket")
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(path)
    )


def with_ingest_metrics(chunks: DataFrame):
    """P7 as query-lifetime observability: attach an ``Observation``
    collecting chunk count / total tokens / total chars in the same
    pass as whatever action consumes the relation — the set-at-a-time
    analog of the reference's per-call token logging
    (Function.java:194-196), with zero extra scans.

    Returns ``(df, observation)``; read ``observation.get`` after the
    first action on ``df``.
    """
    from pyspark.sql import Observation

    obs = Observation("ingest_metrics")
    tokens = F.size(F.split(F.trim(F.col("origntext")), " "))
    observed = chunks.observe(
        obs,
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(tokens).alias("total_tokens"),
        F.sum(F.length("origntext")).alias("total_chars"),
    )
    return observed, obs
