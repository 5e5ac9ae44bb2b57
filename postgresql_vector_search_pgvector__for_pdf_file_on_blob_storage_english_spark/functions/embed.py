"""Embedding stage — the reference's ``text-embedding-ada-002`` call
(Function.java:183-212, dim 1536) behind an injectable, batched,
Arrow-vectorized boundary.

The correctness surface never depends on a network model: the default
embedder is a **deterministic feature-hashing projection** (md5-seeded
hashing trick: token -> bucket + sign, L2-normalized), so every query
over embeddings is reproducible and oracle-checkable.  A real endpoint
plugs in as ``embed_fn`` with the reference's failure contract
reproduced *inside the UDF*: up to :data:`ATTEMPTS` tries with a
backoff between them (Function.java:48, 263-270), after which the
chunks are quarantined, not the job failed (Function.java:173-174) —
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
ATTEMPTS = 3  # tries per embedding call (Function.java:48)
BACKOFF_S = 10.0  # sleep between an endpoint's tries (Function.java:263-270)


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
) -> Callable[[Column], Column]:
    """Build an Arrow-batched embedding column function.

    ``embed_fn`` (texts -> vectors) is the external-service hook; None
    selects the deterministic local embedder.  Each batch is tried up to
    :data:`ATTEMPTS` times, :data:`BACKOFF_S` apart (Function.java:189-210);
    the UDF keeps the backoff it was built with.  A try fails when
    ``embed_fn`` raises or answers with a different number of vectors
    than texts.  A batch whose tries all fail becomes
    null vectors: the ingest's ``VECTOR(n)`` predicate
    (``operators.ingest._vector_ok``) keeps those rows out of the corpus
    and ends their trail at FAILED_DB_INSERTION, as the reference marks
    the chunk and moves on (Function.java:173-174).
    """
    backoff_s = BACKOFF_S

    def _embed_batch(texts: list[str]) -> list[list[float] | None]:
        if embed_fn is None:
            return [hash_embed_text(t or "", dim) for t in texts]
        import time

        for attempt in range(ATTEMPTS):
            if attempt:
                time.sleep(backoff_s)
            try:
                vecs = embed_fn(texts)
                if len(vecs) == len(texts):
                    return vecs
            except Exception:  # noqa: BLE001 — retry, then quarantine
                pass
        return [None] * len(texts)

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def embed_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            yield pd.Series(_embed_batch(s.fillna("").tolist()))

    return embed_udf
