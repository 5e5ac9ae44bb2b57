"""End-to-end ingestion: binary source -> pages -> chunks -> embed ->
corpus + status, batch and streaming (same pipeline, two modes)."""

from __future__ import annotations

import os
import time

import numpy as np
import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions import embed as embed_module
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.embed import (
    hash_embed_text,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ingest import (
    ingest_pages,
    pages_to_chunks,
    write_corpus,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
    knn,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.status import (
    status_upsert,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.sources.pdf import (
    extract_pages,
    pdf_source,
    read_binary_docs,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.sources.pdfcodec import (
    extract_text_pdf,
    make_pdf,
)
from pyspark.sql import functions as F

DOC_A = ["First page about spark.", "Second page about vectors."]
DOC_B = ["Single page document."]
LONG_PAGE = ("word " * 2000).strip() + "."  # ~10k chars -> 2 chunks
NOT_A_PDF = "ValueError: not a PDF: missing %PDF- header"


def _chunk_ids(df) -> set[str]:
    return {r["id"] for r in df.select("id").collect()}


def _vector_dims(df) -> set:
    """The embedding lengths among ``df``'s rows, None for a null one."""
    return {None if r[0] is None else len(r[0]) for r in df.select("embedding").collect()}


def _pages_by_name(paged) -> dict[str, list[tuple]]:
    """``extract_pages`` rows as ``{name: [(pageNumber, text,
    extract_error), ...]}``, in the order the decoder emitted them."""
    out: dict[str, list[tuple]] = {}
    for r in paged.collect():
        out.setdefault(r["name"], []).append((r["pageNumber"], r["text"], r["extract_error"]))
    return out


@pytest.fixture(scope="module")
def pdf_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pdfs")
    (d / "a.pdf").write_bytes(make_pdf(DOC_A))
    (d / "b.pdf").write_bytes(make_pdf(DOC_B))
    (d / "long.pdf").write_bytes(make_pdf([LONG_PAGE]))
    (d / "ignored.txt").write_text("not a pdf")
    return str(d)


class TestExtractPagesBytes:
    """One blob's bytes to pages: ``pdfcodec.extract_text_pdf``, which
    ``extract_pages`` runs on every non-null blob."""

    def test_non_pdf_bytes_raise(self):
        # like PDFBox's loader, the codec refuses bytes with no header
        # (form-feed separated text included); extract_pages quarantines
        # them
        for blob in (b"one\x0ctwo", b"hello", b"", b"<html><body>502 Bad Gateway</body></html>"):
            with pytest.raises(ValueError, match="missing %PDF- header"):
                extract_text_pdf(blob)

    def test_single_page(self):
        assert extract_text_pdf(make_pdf(["hello"])) == [(1, "hello")]

    def test_real_pdf_decodes_via_vendored_codec(self):
        pages = extract_text_pdf(make_pdf(["First real page.", "Second real page."]))
        assert pages == [(1, "First real page."), (2, "Second real page.")]

    def test_installed_pypdf_is_not_used(self, monkeypatch):
        # The page text the chunks re-join to comes from one decoder,
        # whatever else the host has installed.
        import sys
        import types

        class PdfReader:
            def __init__(self, *args, **kwargs):
                raise AssertionError("pypdf must not decode the ingest's PDFs")

        monkeypatch.setitem(sys.modules, "pypdf", types.SimpleNamespace(PdfReader=PdfReader))
        pdf = make_pdf(["First real page.", "Second real page."])
        assert extract_text_pdf(pdf) == [(1, "First real page."), (2, "Second real page.")]

    def test_malformed_pdf_raises(self):
        # %PDF magic but no object structure -> decode error (quarantined
        # by extract_pages)
        with pytest.raises(ValueError, match="catalog"):
            extract_text_pdf(b"%PDF-1.7 fake content")


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

    def test_stream_source_has_the_batch_columns(self, spark, pdf_dir):
        pages = pdf_source(spark, pdf_dir, stream=True)
        assert pages.isStreaming
        assert pages.columns == ["fileName", "pageNumber", "text"]

    def test_undecodable_pdf_is_quarantined(self, spark, pdf_dir, tmp_path):
        # one bad upload among good ones: the ingest goes through and the
        # good files' chunks reach the corpus
        import shutil

        inbox = tmp_path / "inbox"
        shutil.copytree(pdf_dir, inbox)
        (inbox / "bad.pdf").write_bytes(b"%PDF-1.7 x")
        corpus, status = ingest_pages(pdf_source(spark, str(inbox)), dim=16)
        stored, _ = _write_both(corpus, status, tmp_path)
        assert {r["fileName"] for r in stored.select("fileName").collect()} == {"a.pdf", "b.pdf", "long.pdf"}
        assert _chunk_ids(stored) == _chunk_ids(pages_to_chunks(pdf_source(spark, pdf_dir)))

    def test_non_pdf_blobs_are_quarantined(self, spark, tmp_path):
        # an HTML error page and an empty upload named *.pdf are not
        # PDFs, and neither store gets a row of them.  The HTML page
        # gives one null-page row with the codec's error; Spark's file
        # scan skips a zero-byte file, so the empty one gives no row at
        # all (an empty blob's own quarantine is checked below, in
        # TestExtractPagesRows)
        inbox = tmp_path / "inbox"
        inbox.mkdir()
        (inbox / "good.pdf").write_bytes(make_pdf(DOC_A))
        (inbox / "notes.pdf").write_bytes(b"<html><body>502 Bad Gateway</body></html>")
        (inbox / "empty.pdf").write_bytes(b"")
        rows = extract_pages(read_binary_docs(spark, str(inbox))).collect()
        decoded = {}
        for r in rows:
            decoded.setdefault(os.path.basename(r["path"]), []).append((r["pageNumber"], r["extract_error"]))
        assert decoded == {
            "good.pdf": [(1, None), (2, None)],
            "notes.pdf": [(None, NOT_A_PDF)],
        }
        corpus, status = ingest_pages(pdf_source(spark, str(inbox)), dim=16)
        stored, events = _write_both(corpus, status, tmp_path)
        assert {r["fileName"] for r in stored.select("fileName").collect()} == {"good.pdf"}
        assert {r["fileName"] for r in events.select("fileName").collect()} == {"good.pdf"}
        assert stored.count() == 2


class TestBatchIngest:
    def test_chunk_ids_deterministic_idempotent(self, spark, pdf_dir):
        pages = pdf_source(spark, pdf_dir)
        ids1 = sorted(r["id"] for r in pages_to_chunks(pages).collect())
        ids2 = sorted(r["id"] for r in pages_to_chunks(pages).collect())
        assert ids1 == ids2  # re-ingest -> same keys (content-addressed)
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
        assert _vector_dims(corpus) == {32}

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
        rows = [
            ("good", make_pdf(["page one", "page two"])),
            ("bad", b"%PDF-1.7 truncated garbage, not a real pdf"),
        ]
        df = spark.createDataFrame(rows, "name string, content binary")
        out = _pages_by_name(extract_pages(df))
        assert out["good"] == [(1, "page one", None), (2, "page two", None)]
        ((page, text, error),) = out["bad"]  # one null-page row
        assert (page, text) == (None, None)
        assert "ValueError" in error


class TestExtractPagesRows:
    """The decoder emits one row per page, as the reference's page loop
    does (Function.java:92-134)."""

    def _extract(self, spark, rows):
        df = spark.createDataFrame(rows, "name string, content binary")
        return _pages_by_name(extract_pages(df))

    def test_null_content_gives_one_null_row(self, spark):
        out = self._extract(spark, [("none", None), ("one", make_pdf(["text"]))])
        assert out == {"none": [(None, None, None)], "one": [(1, "text", None)]}

    def test_empty_text_gives_one_empty_page(self, spark):
        # a PDF whose one page has no text is a page; an empty blob is
        # not a PDF
        out = self._extract(spark, [("blank", make_pdf([""])), ("empty", b"")])
        assert out == {"blank": [(1, "", None)], "empty": [(None, None, NOT_A_PDF)]}

    def test_two_page_blobs_give_rows_in_order(self, spark):
        # both content-stream encodings: none and FlateDecode
        out = self._extract(
            spark,
            [("plain", make_pdf(["one", "two"], compress=False)), ("flate", make_pdf(["First.", "Second."]))],
        )
        assert out == {
            "plain": [(1, "one", None), (2, "two", None)],
            "flate": [(1, "First.", None), (2, "Second.", None)],
        }


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
    @pytest.fixture(autouse=True)
    def no_backoff(self, monkeypatch):
        """No sleep between an endpoint's tries; make_embedder reads it
        when it builds the UDF, so the workers get it too."""
        monkeypatch.setattr(embed_module, "BACKOFF_S", 0.0)

    def test_failed_embeds_become_failed_status(self, spark, pdf_dir):
        """Fault injection (SURVEY §5.4): an embed endpoint that rejects
        texts mentioning 'vectors' quarantines those chunks as null
        vectors; they stay out of the corpus and terminate as
        FAILED_DB_INSERTION — the rest of the corpus is unaffected."""

        def flaky(texts):
            if any("vectors" in t for t in texts):
                raise ValueError("endpoint rejected batch")
            return [hash_embed_text(t, 16) for t in texts]

        pages = pdf_source(spark, pdf_dir)
        # quarantine granularity is the Arrow batch: the poisoned chunk
        # fails, co-batched rows fail with it, other batches are clean
        pages = pages.repartition(pages.count())
        corpus, status = ingest_pages(pages, dim=16, embed_fn=flaky)
        failed = status.filter(F.col("status") == "FAILED_DB_INSERTION").collect()
        failed_keys = {(r["fileName"], r["pageNumber"]) for r in failed}
        assert ("a.pdf", 2) in failed_keys                 # the poisoned chunk
        n_chunks = pages_to_chunks(pages).count()
        assert 0 < corpus.count() < n_chunks               # rest of corpus survives

    def test_ingest_pages_quarantine_resolves_failed(self, spark, pdf_dir):
        """ADVICE r1 repro: a quarantined chunk's events, resolved through
        status_upsert, must terminate FAILED_DB_INSERTION — not COMPLETED
        (the reference's Function.java:177 bug, which we do not replicate).
        Reachable through the main pipeline entry point."""

        def flaky(texts):
            if any("vectors" in t for t in texts):
                raise ValueError("endpoint rejected batch")
            return [hash_embed_text(t, 16) for t in texts]

        pages = pdf_source(spark, pdf_dir).repartition(8)
        corpus, status = ingest_pages(pages, dim=16, embed_fn=flaky)
        current = {r["id"]: r["status"] for r in status_upsert(status).collect()}
        failed_ids = _chunk_ids(pages_to_chunks(pages)) - _chunk_ids(corpus)
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
        corpus, status = ingest_pages(pages, dim=16, embed_fn=flaky)
        failed_ids = _chunk_ids(pages_to_chunks(pages)) - _chunk_ids(corpus)
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

    def test_ingest_quarantines_by_default(self, spark, pdf_dir, tmp_path):
        """With no policy argument a failing embed batch never fails the
        ingest: the clean chunks are stored, and every other chunk
        resolves to FAILED_DB_INSERTION and is listed as failed."""
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.status import (
            completed_listing,
            failed_listing,
        )

        def flaky(texts):
            if any("vectors" in t for t in texts):
                raise ValueError("endpoint rejected batch")
            return [hash_embed_text(t, 16) for t in texts]

        pages = pdf_source(spark, pdf_dir).repartition(8)
        chunks = pages_to_chunks(pages)
        corpus, status = ingest_pages(pages, dim=16, embed_fn=flaky)
        stored, events = _write_both(corpus, status, tmp_path)
        stored_ids = _chunk_ids(stored)
        poisoned = _chunk_ids(chunks.filter(F.col("origntext").contains("vectors")))
        current = status_upsert(events)
        failed = {r["id"]: r["status"] for r in failed_listing(current).collect()}
        assert poisoned and poisoned <= set(failed)
        assert stored_ids and not stored_ids & set(failed)
        assert stored_ids | set(failed) == _chunk_ids(chunks)
        assert set(failed.values()) == {"FAILED_DB_INSERTION"}
        assert _chunk_ids(completed_listing(current)) == stored_ids


def _write_both(corpus, status, out, status_first=False):
    """Write an ingest's two frames as its callers do; return the stored
    corpus and the stored status events."""
    def write_status():
        status.write.mode("append").parquet(str(out / "status"))

    if status_first:
        write_status()
    write_corpus(corpus, str(out / "corpus"))
    if not status_first:
        write_status()
    spark = corpus.sparkSession
    return spark.read.parquet(str(out / "corpus")), spark.read.parquet(str(out / "status"))


class TestIngestOnce:
    """One ingest decides each chunk once: the corpus and the status
    trail are read from one embedded relation."""

    def test_writes_embed_each_chunk_once(self, spark, pdf_dir, tmp_path):
        log = str(tmp_path / "embedded")

        def counting(texts):
            # the UDF runs in Python workers: count through a file
            with open(log, "a") as f:
                f.write(f"{len(texts)}\n")
            return [hash_embed_text(t, 16) for t in texts]

        pages = pdf_source(spark, pdf_dir)
        corpus, status = ingest_pages(pages, dim=16, embed_fn=counting)
        _write_both(corpus, status, tmp_path)
        with open(log) as f:
            embedded = sum(int(n) for n in f)
        assert embedded == pages_to_chunks(pages).count()
        for frame in (corpus, status):  # neither frame re-runs decode or embed
            plan = frame._jdf.queryExecution().executedPlan().toString()
            assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan

    @pytest.mark.parametrize("status_first", [False, True], ids=["corpus_first", "status_first"])
    def test_corpus_and_status_agree(self, spark, pdf_dir, tmp_path, status_first):
        """An endpoint whose first answer has the wrong length and whose
        later answers are good: the rejected batch is neither stored nor
        COMPLETED, whichever frame is written first."""
        marker = str(tmp_path / "called")

        def wrong_first(texts):
            try:
                os.close(os.open(marker, os.O_CREAT | os.O_EXCL))
                dim = 17
            except FileExistsError:
                dim = 16
            return [hash_embed_text(t, dim) for t in texts]

        pages = pdf_source(spark, pdf_dir).repartition(4)
        corpus, status = ingest_pages(pages, dim=16, embed_fn=wrong_first)
        stored, events = _write_both(corpus, status, tmp_path, status_first)
        stored_ids = _chunk_ids(stored)
        current = {r["id"]: r["status"] for r in status_upsert(events).collect()}
        assert set(current) == _chunk_ids(pages_to_chunks(pages))
        rejected = set(current) - stored_ids
        assert stored_ids and rejected
        assert all(current[i] == "COMPLETED" for i in stored_ids)
        assert all(current[i] == "FAILED_DB_INSERTION" for i in rejected)
        assert _vector_dims(stored) == {16}

    def test_wrong_length_vectors_stay_out(self, spark, pdf_dir, tmp_path):
        def long_for_vectors(texts):
            return [hash_embed_text(t, 17 if "vectors" in t else 16) for t in texts]

        corpus, status = ingest_pages(pdf_source(spark, pdf_dir), dim=16, embed_fn=long_for_vectors)
        stored, _ = _write_both(corpus, status, tmp_path)
        assert _vector_dims(stored) == {16}
        assert ("a.pdf", 2) not in {(r["fileName"], r["pageNumber"]) for r in stored.collect()}
        q = hash_embed_text("Single page document.", 16)
        hit = knn(stored, q, k=1, id_col="id", payload_cols=["fileName"]).first()
        assert hit["fileName"] == "b.pdf"

    def test_non_finite_vectors_stay_out(self, spark, pdf_dir, tmp_path):
        """pgvector refuses a vector with a NaN, infinite or null
        component on insert: such a chunk is not stored, and its trail
        ends FAILED_DB_INSERTION."""
        poison = {"spark": float("nan"), "vectors": float("inf"), "Single": None}

        def poisoned(texts):
            out = []
            for t in texts:
                v = hash_embed_text(t, 16)
                v[3] = next((x for word, x in poison.items() if word in t), v[3])
                out.append(v)
            return out

        pages = pdf_source(spark, pdf_dir)
        corpus, status = ingest_pages(pages, dim=16, embed_fn=poisoned)
        stored, events = _write_both(corpus, status, tmp_path)
        chunks = pages_to_chunks(pages).collect()
        bad = {r["id"] for r in chunks if any(word in r["origntext"] for word in poison)}
        assert len(bad) == 3
        assert _chunk_ids(stored) == {r["id"] for r in chunks} - bad
        history = {}
        for r in events.collect():
            history.setdefault(r["id"], set()).add(r["status"])
        for i in bad:
            assert history[i] == {"PAGE_SEPARATE_FINISHED", "FAILED_DB_INSERTION"}

    def test_ingest_leaves_no_cache_entry(self, spark, pdf_dir, tmp_path):
        cache = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        corpus, status = ingest_pages(pdf_source(spark, pdf_dir), dim=16)
        _write_both(corpus, status, tmp_path)
        assert cache.isEmpty()
