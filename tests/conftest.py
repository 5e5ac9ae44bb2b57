"""Shared fixtures: one session-scoped SparkSession, the one the engine
ships (``session.get_spark``), and fixture dirs."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.session import get_spark

    s = get_spark()
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE
