"""Embedding stage — the reference's ``text-embedding-ada-002`` call
(Function.java:183-212, dim 1536) behind an injectable, batched,
Arrow-vectorized boundary.

The correctness surface never depends on a network model: the default
embedder is a **deterministic feature-hashing projection** (md5-seeded
hashing trick: token -> bucket + sign, L2-normalized), so every query
over embeddings is reproducible and oracle-checkable.  A real endpoint
plugs in as ``embed_fn`` with the reference's operational contract
reproduced *inside the UDF*: up to 3 attempts with a 10 s backoff
(Function.java:48, 263-270) and client-side pacing (Function.java:45) —
but applied per Arrow batch, not per row: the reference's one-HTTP-call-
and-one-JDBC-connection-per-chunk anti-pattern is replaced
by set-at-a-time batching.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_DIM = 64  # fixture dimensionality; the reference uses 1536 (config)


def _token_slot(token: str, dim: int) -> tuple[int, float]:
    """Deterministic (bucket, sign) for one token via md5 — platform-stable."""
    h = int.from_bytes(hashlib.md5(token.encode("utf-8")).digest()[:8], "big")
    return h % dim, 1.0 if (h >> 63) & 1 else -1.0


def hash_embed_text(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Pure-Python reference implementation (unit-test twin of the UDF)."""
    vec = np.zeros(dim, dtype=np.float64)
    for tok in text.split():
        slot, sign = _token_slot(tok, dim)
        vec[slot] += sign
    norm = float(np.linalg.norm(vec))
    if norm > 0.0:
        vec /= norm
    return [float(x) for x in vec.astype(np.float32)]


def make_embedder(
    dim: int = DEFAULT_DIM,
    embed_fn: Callable[[list[str]], list[list[float]]] | None = None,
    max_retries: int = 3,
    backoff_s: float = 10.0,
    on_error: str = "fail",
) -> Callable[[Column], Column]:
    """Build an Arrow-batched embedding column function.

    ``embed_fn`` (texts -> vectors) is the external-service hook; None
    selects the deterministic local embedder. Retry policy mirrors
    Function.java:189-210 (status side-effects are handled by the
    pipeline layer, not here).

    ``on_error``: ``'fail'`` propagates after retry exhaustion
    (fail-fast default); ``'null'`` quarantines the exhausted batch as
    null vectors — ``validate_corpus`` then rejects those rows and the
    pipeline records them as FAILED status entries instead of killing
    a corpus-wide ingest (the reference marks the chunk
    FAILED_DB_INSERTION and moves on, Function.java:173-174).
    """
    if on_error not in ("fail", "null"):
        raise ValueError("on_error must be 'fail' or 'null'")

    def _embed_batch(texts: list[str]) -> list[list[float] | None]:
        if embed_fn is None:
            return [hash_embed_text(t or "", dim) for t in texts]
        import time

        last_err: Exception | None = None
        for attempt in range(max_retries):
            try:
                return embed_fn(texts)
            except Exception as e:  # noqa: BLE001 — retry contract
                last_err = e
                if attempt < max_retries - 1:
                    time.sleep(backoff_s)
        if on_error == "null":
            return [None] * len(texts)
        raise RuntimeError(f"embedding failed after {max_retries} attempts") from last_err

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            vecs = _embed_batch(s.fillna("").tolist())
            yield pd.Series(vecs)

    return lambda col: embed_udf(col)
