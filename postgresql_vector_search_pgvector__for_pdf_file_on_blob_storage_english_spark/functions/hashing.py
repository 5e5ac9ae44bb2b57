"""Portable, deterministic hashing expressions.

The engine needs hash functions that (a) run JVM-side in Spark, and
(b) can be reproduced bit-for-bit by the DuckDB oracle.  Spark's
``hash()``/``xxhash64()`` aren't portable, so we standardize on the
first 15 hex chars of md5 interpreted as a 60-bit integer:

    Spark :  conv(substring(md5(s), 1, 15), 16, 10)::long
    DuckDB:  ('0x' || substr(md5(s), 1, 15))::BIGINT

60 bits keeps the value comfortably inside a signed 64-bit long on both
engines. Downstream (MinHash, SimHash, LSH) everything derives from this
single primitive via integer arithmetic, which both engines evaluate
identically.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_hash60(s: Column | str) -> Column:
    """md5-derived 60-bit non-negative hash, reproducible in ANSI SQL."""
    s = F.col(s) if isinstance(s, str) else s
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def stable_hash60_sql(expr: str) -> str:
    """The DuckDB-side twin of :func:`stable_hash60` (same bits)."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def chunk_id(file_name: Column | str, page_number: Column | str, chunk_index: Column | str) -> Column:
    """Deterministic chunk identity.

    The reference uses a random UUID per chunk (Function.java:139); for a
    reproducible, idempotently re-ingestable corpus we derive identity
    from content coordinates instead: sha2 over (fileName, pageNumber,
    chunkIndex).  Re-ingesting the same file yields the same ids, turning
    the append sink into an idempotent upsert.
    """
    parts = [
        F.col(c).cast("string") if isinstance(c, str) else c.cast("string")
        for c in (file_name, page_number, chunk_index)
    ]
    return F.sha2(F.concat_ws("§", *parts), 256)
