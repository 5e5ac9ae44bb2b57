"""Embedding transport integration: make_embedder driven against an
in-process HTTP stub — the Function.java:183-212 retry/backoff/quarantine
contract exercised at the transport layer (VERDICT r2 item 8), not with
injected in-memory fakes.

The stub is deterministic: failure injection is keyed on request payload
content (not wall clock or global order), so the test is stable under any
partitioning.  No external network; the server binds 127.0.0.1:0 and the
Spark Python workers (separate local processes) call it over loopback.
"""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions import embed as embed_module
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.embed import (
    hash_embed_text,
    make_embedder,
)
from pyspark.sql import functions as F

DIM = 16


class _StubState:
    """Request log + per-payload failure counters (test-process only)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.requests: list[list[str]] = []
        self.flaky_counts: dict[str, int] = {}


def _make_handler(state: _StubState):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet
            pass

        def do_POST(self):
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            texts = body["input"]
            key = json.dumps(texts, sort_keys=True)
            with state.lock:
                state.requests.append(texts)
                state.flaky_counts[key] = state.flaky_counts.get(key, 0) + 1
                n_seen = state.flaky_counts[key]
            if any("poison" in t for t in texts):
                self.send_response(500)  # permanently down for this payload
                self.end_headers()
                return
            if any("flaky" in t for t in texts) and n_seen <= 2:
                self.send_response(503)  # first 2 attempts fail, 3rd succeeds
                self.end_headers()
                return
            payload = json.dumps(
                {"data": [{"embedding": hash_embed_text(t, DIM)} for t in texts]}
            ).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

    return Handler


@pytest.fixture(autouse=True)
def short_backoff(monkeypatch):
    """A 10 ms backoff between tries; make_embedder reads it when it
    builds the UDF, so the workers get it too."""
    monkeypatch.setattr(embed_module, "BACKOFF_S", 0.01)


@pytest.fixture()
def stub_server():
    state = _StubState()
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _make_handler(state))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}/embeddings", state
    srv.shutdown()
    srv.server_close()


def _http_embed_fn(url: str):
    """texts -> vectors over HTTP; raises on non-200 (the retry trigger).
    Module-level factory so the closure cloudpickles cleanly to workers."""

    def embed(texts):
        req = urllib.request.Request(
            url,
            json.dumps({"input": texts}).encode(),
            {"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=10) as r:
            return [d["embedding"] for d in json.loads(r.read())["data"]]

    return embed


def test_happy_path_round_trips_vectors(spark, stub_server):
    url, state = stub_server
    df = spark.createDataFrame(
        [("a", "hello world"), ("b", "vector text")], "id string, text string"
    ).repartition(1)
    emb = make_embedder(dim=DIM, embed_fn=_http_embed_fn(url))
    rows = {r["id"]: r["e"] for r in df.select("id", emb(F.col("text")).alias("e")).collect()}
    assert rows["a"] == pytest.approx(hash_embed_text("hello world", DIM))
    assert rows["b"] == pytest.approx(hash_embed_text("vector text", DIM))
    assert len(state.requests) == 1  # one Arrow batch -> ONE http call, not per-row


def test_retry_backoff_recovers_transient_503(spark, stub_server):
    url, state = stub_server
    df = spark.createDataFrame(
        [("a", "flaky endpoint text"), ("b", "companion row")], "id string, text string"
    ).repartition(1)
    emb = make_embedder(dim=DIM, embed_fn=_http_embed_fn(url))
    rows = {r["id"]: r["e"] for r in df.select("id", emb(F.col("text")).alias("e")).collect()}
    # 3rd attempt succeeded and produced real vectors
    assert rows["a"] == pytest.approx(hash_embed_text("flaky endpoint text", DIM))
    # exactly 3 transport calls for the one batch: 503, 503, 200
    assert len(state.requests) == 3
    assert all(reqs == state.requests[0] for reqs in state.requests)


def test_exhausted_retries_quarantine_as_null(spark, stub_server):
    url, state = stub_server
    df = spark.createDataFrame(
        [("a", "poison pill"), ("b", "poison too")], "id string, text string"
    ).repartition(1)
    emb = make_embedder(dim=DIM, embed_fn=_http_embed_fn(url))
    rows = df.select("id", emb(F.col("text")).alias("e")).collect()
    assert all(r["e"] is None for r in rows)  # quarantined, job survived
    assert len(state.requests) == 3  # retries exhausted: 3 attempts
