"""End-to-end ingestion: binary source -> pages -> chunks -> embed ->
corpus + status, batch and streaming (same pipeline, two modes)."""

from __future__ import annotations

import time

import numpy as np
import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.embed import (
    hash_embed_text,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ingest import (
    ingest_pages,
    pages_to_chunks,
    validate_corpus,
    write_corpus,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
    knn,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.status import (
    status_upsert,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.sources.pdf import (
    PAGE_SEP,
    extract_pages_bytes,
    pdf_source,
)
from pyspark.sql import functions as F

DOC_A = f"First page about spark.{PAGE_SEP}Second page about vectors."
DOC_B = "Single page document."
LONG_PAGE = ("word " * 2000).strip() + "."  # ~10k chars -> 2 chunks


@pytest.fixture(scope="module")
def pdf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pdfs")
    (d / "a.pdf").write_text(DOC_A)
    (d / "b.pdf").write_text(DOC_B)
    (d / "long.pdf").write_text(LONG_PAGE)
    (d / "ignored.txt").write_text("not a pdf")
    return str(d)


class TestExtractPagesBytes:
    def test_formfeed_format(self):
        pages = extract_pages_bytes(DOC_A.encode())
        assert pages == [(1, "First page about spark."), (2, "Second page about vectors.")]

    def test_single_page(self):
        assert extract_pages_bytes(b"hello") == [(1, "hello")]

    def test_real_pdf_decodes_via_vendored_codec(self):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.sources.pdfcodec import (
            make_pdf,
        )

        pages = extract_pages_bytes(make_pdf(["First real page.", "Second real page."]))
        assert pages == [(1, "First real page."), (2, "Second real page.")]

    def test_malformed_pdf_raises(self):
        # %PDF magic but no object structure -> decode error (quarantined
        # by extract_pages(on_error='skip'))
        with pytest.raises(ValueError, match="catalog"):
            extract_pages_bytes(b"%PDF-1.7 fake content")


class TestPdfSource:
    def test_glob_filter_prunes_non_pdf(self, spark, pdf_dir):
        pages = pdf_source(spark, pdf_dir).collect()
        assert {r["fileName"] for r in pages} == {"a.pdf", "b.pdf", "long.pdf"}

    def test_page_numbers_one_based(self, spark, pdf_dir):
        pages = pdf_source(spark, pdf_dir).collect()
        a = sorted(
            [(r["pageNumber"], r["text"]) for r in pages if r["fileName"] == "a.pdf"]
        )
        assert a == [(1, "First page about spark."), (2, "Second page about vectors.")]


class TestBatchIngest:
    def test_chunk_ids_deterministic_idempotent(self, spark, pdf_dir):
        pages = pdf_source(spark, pdf_dir)
        ids1 = sorted(r["id"] for r in pages_to_chunks(pages).collect())
        ids2 = sorted(r["id"] for r in pages_to_chunks(pages).collect())
        assert ids1 == ids2  # re-ingest -> same keys (idempotent upsert)
        assert len(ids1) == len(set(ids1))

    def test_long_page_splits(self, spark, pdf_dir):
        pages = pdf_source(spark, pdf_dir)
        long_chunks = (
            pages_to_chunks(pages).filter(F.col("fileName") == "long.pdf").collect()
        )
        assert len(long_chunks) == 2
        assert {r["chunk_index"] for r in long_chunks} == {0, 1}

    def test_corpus_schema_and_embeddings(self, spark, pdf_dir):
        pages = pdf_source(spark, pdf_dir)
        corpus, status = ingest_pages(pages, dim=32)
        rows = corpus.collect()
        assert corpus.columns == ["id", "embedding", "origntext", "fileName", "pageNumber", "chunk_index"]
        b = next(r for r in rows if r["fileName"] == "b.pdf")
        assert b["embedding"] == pytest.approx(hash_embed_text("Single page document.", 32))
        assert validate_corpus(corpus, dim=32).count() == 0
        assert validate_corpus(corpus, dim=64).count() == len(rows)  # wrong dim rejected

    def test_status_events_resolve_completed(self, spark, pdf_dir):
        pages = pdf_source(spark, pdf_dir)
        corpus, status = ingest_pages(pages, dim=16)
        current = status_upsert(status)
        assert current.count() == corpus.count()
        assert current.filter(F.col("status") != "COMPLETED").count() == 0

    def test_ingested_corpus_is_queryable(self, spark, pdf_dir, tmp_path):
        pages = pdf_source(spark, pdf_dir)
        corpus, _ = ingest_pages(pages, dim=32)
        out = str(tmp_path / "corpus")
        write_corpus(corpus, out)
        stored = spark.read.parquet(out)
        q = hash_embed_text("Second page about vectors.", 32)
        hit = knn(stored, q, k=1, id_col="id", payload_cols=["fileName", "pageNumber"]).first()
        assert (hit["fileName"], hit["pageNumber"]) == ("a.pdf", 2)
        assert hit["distance"] < 1e-6

    def test_write_corpus_one_file_per_bucket(self, spark, tmp_path):
        rows = [(f"id{i}", [float(i)], "t", f"f{i % 6}.pdf", 1, i) for i in range(48)]
        corpus = spark.createDataFrame(
            rows,
            "id string, embedding array<float>, origntext string, fileName string, "
            "pageNumber int, chunk_index int",
        ).repartition(4)  # round-robin: every bucket's rows reach every split
        out = tmp_path / "corpus"
        write_corpus(corpus, str(out))
        buckets = [d for d in out.iterdir() if d.name.startswith("bucket=")]
        assert buckets
        assert all(len(list(d.glob("*.parquet"))) == 1 for d in buckets)
        assert spark.read.parquet(str(out)).count() == len(rows)


class TestStreamingIngest:
    def test_available_now_drains_and_matches_batch(self, spark, pdf_dir, tmp_path):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.streaming.ingest_stream import (
            ingest_stream,
        )

        corpus_path = str(tmp_path / "corpus")
        status_path = str(tmp_path / "status")
        ckpt = str(tmp_path / "ckpt")
        q = ingest_stream(spark, pdf_dir, corpus_path, status_path, ckpt, dim=32)
        q.awaitTermination(120)
        stored = spark.read.parquet(corpus_path)
        batch_corpus, _ = ingest_pages(pdf_source(spark, pdf_dir), dim=32)
        assert sorted(r["id"] for r in stored.collect()) == sorted(
            r["id"] for r in batch_corpus.collect()
        )
        # restart with same checkpoint: no new files -> no duplicate rows
        q2 = ingest_stream(spark, pdf_dir, corpus_path, status_path, ckpt, dim=32)
        q2.awaitTermination(60)
        assert spark.read.parquet(corpus_path).count() == batch_corpus.count()


class TestExtractErrorHandling:
    def test_skip_quarantines_bad_blob(self, spark, tmp_path):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.sources.pdf import (
            extract_pages,
        )

        rows = [
            ("good", b"page one\x0cpage two"),
            ("bad", b"%PDF-1.7 truncated garbage, not a real pdf"),
        ]
        df = spark.createDataFrame(rows, "name string, content binary")
        out = {r["name"]: r for r in extract_pages(df, on_error="skip").collect()}
        assert out["good"]["extract_error"] is None
        assert len(out["good"]["pages"]) == 2
        assert "ValueError" in out["bad"]["extract_error"]
        assert out["bad"]["pages"] == []

    def test_fail_mode_raises(self, spark):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.sources.pdf import (
            extract_pages,
        )

        df = spark.createDataFrame([("bad", b"%PDF-1.7 x")], "name string, content binary")
        with pytest.raises(Exception, match="catalog|ValueError"):
            extract_pages(df, on_error="fail").collect()


class TestIngestMetrics:
    def test_observation_collected_in_one_pass(self, spark, pdf_dir):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ingest import (
            with_ingest_metrics,
        )

        chunks = pages_to_chunks(pdf_source(spark, pdf_dir))
        observed, obs = with_ingest_metrics(chunks)
        n_rows = observed.count()  # the action that materializes the metrics
        m = obs.get
        assert m["n_chunks"] == n_rows
        expect_chars = sum(len(r["origntext"]) for r in chunks.collect())
        assert m["total_chars"] == expect_chars
        assert m["total_tokens"] > 0


class TestEmbedQuarantine:
    def test_failed_embeds_become_failed_status(self, spark, pdf_dir):
        """Fault injection (SURVEY §5.4): an embed endpoint that rejects
        texts mentioning 'vectors' quarantines those chunks as null
        vectors; validate_corpus rejects them and they terminate as
        FAILED_DB_INSERTION — the rest of the corpus is unaffected."""
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.embed import (
            hash_embed_text,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ingest import (
            embed_chunks,
            failed_chunk_status,
        )

        def flaky(texts):
            if any("vectors" in t for t in texts):
                raise ValueError("endpoint rejected batch")
            return [hash_embed_text(t, 16) for t in texts]

        chunks = pages_to_chunks(pdf_source(spark, pdf_dir))
        # quarantine granularity is the Arrow batch: the poisoned chunk
        # fails, co-batched rows fail with it, other batches are clean
        corpus = embed_chunks(
            chunks.repartition(chunks.count()), dim=16, embed_fn=flaky,
            on_error="null",
        )
        failed = failed_chunk_status(corpus, dim=16).collect()
        failed_keys = {(r["fileName"], r["pageNumber"]) for r in failed}
        assert ("a.pdf", 2) in failed_keys                 # the poisoned chunk
        assert all(r["status"] == "FAILED_DB_INSERTION" for r in failed)
        ok = corpus.filter(F.col("embedding").isNotNull())
        assert 0 < ok.count() < chunks.count()             # rest of corpus survives

    def test_ingest_pages_quarantine_resolves_failed(self, spark, pdf_dir):
        """ADVICE r1 repro: a quarantined chunk's events, resolved through
        status_upsert, must terminate FAILED_DB_INSERTION — not COMPLETED
        (the reference's Function.java:177 bug, which we do not replicate).
        Reachable through the main pipeline entry point via on_error."""

        def flaky(texts):
            if any("vectors" in t for t in texts):
                raise ValueError("endpoint rejected batch")
            return [hash_embed_text(t, 16) for t in texts]

        pages = pdf_source(spark, pdf_dir).repartition(8)
        corpus, status = ingest_pages(pages, dim=16, embed_fn=flaky, on_error="null")
        current = {r["id"]: r["status"] for r in status_upsert(status).collect()}
        failed_ids = {r["id"] for r in validate_corpus(corpus, dim=16).collect()}
        assert failed_ids, "fault injection produced no quarantined chunk"
        assert all(current[i] == "FAILED_DB_INSERTION" for i in failed_ids)
        ok_ids = set(current) - failed_ids
        assert ok_ids and all(current[i] == "COMPLETED" for i in ok_ids)

    def test_quarantined_chunk_leaves_no_ghost_stage_events(self, spark, pdf_dir):
        """ADVICE r2 repro: the raw event log must not contain
        FINISH_OAI_INVOCATION / FINISH_DB_INSERTION for chunks whose
        embedding failed — the reference only writes those after actual
        success (Function.java:149, 165), so a history query over the log
        must show the failed chunk stopping at PAGE_SEPARATE_FINISHED +
        FAILED_DB_INSERTION."""

        def flaky(texts):
            if any("vectors" in t for t in texts):
                raise ValueError("endpoint rejected batch")
            return [hash_embed_text(t, 16) for t in texts]

        pages = pdf_source(spark, pdf_dir).repartition(8)
        corpus, status = ingest_pages(pages, dim=16, embed_fn=flaky, on_error="null")
        failed_ids = {r["id"] for r in validate_corpus(corpus, dim=16).collect()}
        assert failed_ids, "fault injection produced no quarantined chunk"
        history = {}
        for r in status.collect():
            history.setdefault(r["id"], set()).add(r["status"])
        for i in failed_ids:
            assert history[i] == {"PAGE_SEPARATE_FINISHED", "FAILED_DB_INSERTION"}
        ok_ids = set(history) - failed_ids
        assert ok_ids
        for i in ok_ids:
            assert history[i] == {
                "PAGE_SEPARATE_FINISHED",
                "FINISH_OAI_INVOCATION",
                "FINISH_DB_INSERTION",
                "COMPLETED",
            }

    def test_on_error_fail_raises(self, spark, pdf_dir):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ingest import (
            embed_chunks,
        )

        def always_fail(texts):
            raise ValueError("down")

        chunks = pages_to_chunks(pdf_source(spark, pdf_dir))
        with pytest.raises(Exception, match="embedding failed"):
            embed_chunks(chunks, dim=16, embed_fn=always_fail, on_error="fail").collect()
