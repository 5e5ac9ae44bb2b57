"""Deterministic embedder: UDF == pure function, unit norm, retry hook."""

from __future__ import annotations

import math

import numpy as np
import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions import embed as embed_module
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.embed import (
    DEFAULT_DIM,
    hash_embed_text,
    make_embedder,
)
from pyspark.sql import functions as F


def test_deterministic_and_dim():
    v1 = hash_embed_text("hello world", 64)
    v2 = hash_embed_text("hello world", 64)
    assert v1 == v2
    assert len(v1) == 64


def test_unit_norm_nonempty():
    v = np.array(hash_embed_text("some text with tokens", 64))
    assert math.isclose(float(np.linalg.norm(v)), 1.0, rel_tol=1e-5)


def test_empty_text_zero_vector():
    assert hash_embed_text("", 64) == [0.0] * 64


def test_udf_matches_pure_function(spark):
    texts = ["alpha beta", "gamma", "", "alpha beta"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, text string")
    embed = make_embedder(dim=32)
    got = {r["id"]: r["v"] for r in df.select("id", embed(F.col("text")).alias("v")).collect()}
    for i, t in enumerate(texts):
        expect = hash_embed_text(t, 32)
        assert got[i] == pytest.approx(expect), f"text {t!r}"


def test_short_answer_is_retried_then_quarantined(spark, tmp_path, monkeypatch):
    # an endpoint that answers one vector short is a failed try: retried,
    # then the batch becomes null vectors instead of failing the job
    log = tmp_path / "calls"

    def short(texts):
        with open(log, "a") as f:
            f.write("call\n")
        return [hash_embed_text(t, 4) for t in texts][:-1]

    monkeypatch.setattr(embed_module, "BACKOFF_S", 0.0)  # read when the UDF is built
    embed = make_embedder(dim=4, embed_fn=short)
    df = spark.createDataFrame([(1, "a b"), (2, "c d")], "id int, text string").repartition(1)
    rows = df.select("id", embed(F.col("text")).alias("v")).collect()
    assert sorted(r["id"] for r in rows) == [1, 2]
    assert all(r["v"] is None for r in rows)
    assert log.read_text().count("call") == 3
