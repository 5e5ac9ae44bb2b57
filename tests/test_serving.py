"""Serving veneer: prompt template, mock/injectable LLM stage, blob
URLs, SSE event shaping."""

from __future__ import annotations

import json

import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.serving import (
    MOCK_SUMMARY_LEN,
    SSE_SPACE_SENTINEL,
    blob_url,
    build_prompt,
    llm_extract,
    sse_escape,
    sse_events,
)
from pyspark.sql import functions as F

ACCOUNT = "https://acct.blob.core.windows.net/pdfs/"


@pytest.fixture(scope="module")
def hits(spark):
    rows = [
        ("id1", "short text", "a.pdf", 1),
        ("id2", "x" * 200, "b.pdf", 7),
    ]
    return spark.createDataFrame(rows, "id string, origntext string, fileName string, pageNumber int")


def test_prompt_matches_reference_template(spark, hits):
    out = hits.select(build_prompt("origntext", "my query").alias("p")).collect()
    p = next(r["p"] for r in out if "short" in r["p"])
    # the reference emits a space between the closing triple-quote and the
    # newlines (SSEOpenAIController.java:153)
    assert p == (
        '""" short text """ \n\n'
        'From the above document "my query" Please extract the part that describes.'
    )


def test_mock_llm_truncates_long_passes_short(spark, hits):
    out = {r["id"]: r["summary"] for r in llm_extract(hits).collect()}
    assert out["id1"] == "short text"
    assert out["id2"] == "x" * MOCK_SUMMARY_LEN + "..."


def test_injected_llm_fn(spark, hits):
    out = llm_extract(hits, llm_fn=lambda texts: [t[:1].upper() for t in texts])
    got = {r["id"]: r["summary"] for r in out.collect()}
    assert got == {"id1": "S", "id2": "X"}


def test_blob_url_format(spark, hits):
    out = {r["id"]: r["u"] for r in hits.select("id", blob_url(ACCOUNT).alias("u")).collect()}
    assert out["id2"] == f"{ACCOUNT}b.pdf#page=7"


def test_sse_escape_roundtrip(spark, hits):
    r = hits.filter(F.col("id") == "id1").select(sse_escape("origntext").alias("e")).first()
    assert r["e"] == f"short{SSE_SPACE_SENTINEL}text"
    assert r["e"].replace(SSE_SPACE_SENTINEL, " ") == "short text"  # client-side undo


def test_sse_events_shape_and_order(spark, hits):
    ev = sse_events(llm_extract(hits), ACCOUNT).collect()
    for_id1 = sorted((r["seq"], r["event_json"]) for r in ev if r["id"] == "id1")
    assert [s for s, _ in for_id1] == [1, 2, 3]
    parsed = [json.loads(e) for _, e in for_id1]
    assert parsed[0] == {"type": "create", "id": "id1"}
    assert parsed[1]["type"] == "createLink"
    assert parsed[1]["link"] == f"{ACCOUNT}a.pdf#page=1"
    assert parsed[2]["type"] == "addMessage"
    assert parsed[2]["content"] == f"short{SSE_SPACE_SENTINEL}text"


def test_sse_events_json_escaping(spark):
    # a fileName/summary containing quotes, backslashes or control
    # characters (a single tab survives the page normalization) must
    # still produce valid JSON (the reference serializes via Gson, which
    # escapes them all)
    rows = [
        ("idq", 'he said "hi" \\ bye', 'we"ird\\.pdf', 3),
        ("idt", "tab\there \x01 ctl", "ta\tb\x01.pdf", 4),
    ]
    df = spark.createDataFrame(
        rows, "id string, origntext string, fileName string, pageNumber int"
    )
    ev = sse_events(llm_extract(df), ACCOUNT).collect()
    got = {(r["id"], r["seq"]): json.loads(r["event_json"]) for r in ev}
    for id_, text, file_name, page in rows:
        assert got[(id_, 2)]["fileName"] == file_name
        assert got[(id_, 2)]["link"] == f"{ACCOUNT}{file_name}#page={page}"
        assert got[(id_, 3)]["content"].replace(SSE_SPACE_SENTINEL, " ") == text


class TestExpandContext:
    """Small-to-big retrieval: operators/serving.py::expand_context."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            ("a.pdf", p, f"a-page-{p}") for p in range(1, 6)
        ] + [
            ("b.pdf", p, f"b-page-{p}") for p in range(1, 3)
        ]
        return spark.createDataFrame(
            rows, "fileName string, pageNumber int, origntext string"
        )

    def _hits(self, spark, rows):
        return spark.createDataFrame(
            rows, "fileName string, pageNumber int, distance double"
        )

    def test_interior_hit_stitches_three_pages_in_order(self, spark, corpus):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.serving import expand_context

        out = expand_context(
            self._hits(spark, [("a.pdf", 3, 0.5)]), corpus, window=1
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert r["n_parts"] == 3
        assert r["context"] == "a-page-2\n\na-page-3\n\na-page-4"
        assert (r["fileName"], r["pageNumber"], r["distance"]) == ("a.pdf", 3, 0.5)

    def test_edge_hit_keeps_only_existing_neighbors(self, spark, corpus):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.serving import expand_context

        out = {
            (r["fileName"], r["pageNumber"]): r
            for r in expand_context(
                self._hits(spark, [("a.pdf", 1, 0.1), ("b.pdf", 2, 0.2)]),
                corpus,
                window=1,
            ).collect()
        }
        first = out[("a.pdf", 1)]
        assert first["n_parts"] == 2
        assert first["context"] == "a-page-1\n\na-page-2"
        last = out[("b.pdf", 2)]
        assert last["n_parts"] == 2
        assert last["context"] == "b-page-1\n\nb-page-2"

    def test_window_zero_is_identity_text(self, spark, corpus):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.serving import expand_context

        out = expand_context(
            self._hits(spark, [("a.pdf", 2, 0.3)]), corpus, window=0
        ).collect()
        assert out[0]["n_parts"] == 1
        assert out[0]["context"] == "a-page-2"

    def test_no_cross_file_bleed(self, spark, corpus):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.serving import expand_context

        # b.pdf page 1's window covers pages 0..2; a.pdf has those pages
        # too but must not contribute.
        out = expand_context(
            self._hits(spark, [("b.pdf", 1, 0.4)]), corpus, window=1
        ).collect()
        assert out[0]["context"] == "b-page-1\n\nb-page-2"

    def test_negative_window_rejected(self, spark, corpus):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.serving import expand_context

        with pytest.raises(ValueError):
            expand_context(self._hits(spark, []), corpus, window=-1)

    def test_hits_side_is_broadcast(self, spark, corpus):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.serving import expand_context

        plan = expand_context(
            self._hits(spark, [("a.pdf", 3, 0.5)]), corpus, window=1
        )._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
