"""Independent correctness checks: NumPy exact L2 top-k and a
from-scratch port of the reference's normalize/chunk rules
(Function.java:108-109, 216-252).  Nothing here calls the engine."""

from __future__ import annotations

import hashlib
import re

import numpy as np

MAX_CHUNK = 7500
WINDOW_START = 7200
TIE_TOL = 1e-9
_WS = re.compile(r"\s{2,}", re.ASCII)


def normalize(text: str) -> str:
    return _WS.sub(" ", text.replace("\n", " "))


def split_chunks(text: str) -> list[str]:
    """Cut at the last ``.:;?!`` in (7200, 7500] (the punctuation char
    starts the next chunk), else at 7200; the remainder is the last chunk."""
    out = []
    while len(text) > MAX_CHUNK:
        cut = WINDOW_START
        for i in range(MAX_CHUNK, WINDOW_START, -1):
            if text[i] in ".:;?!":
                cut = i
                break
        out.append(text[:cut])
        text = text[cut:]
    out.append(text)
    return out


def embed(text: str, dim: int) -> np.ndarray:
    """The engine's documented local embedder, re-derived: each
    whitespace token adds +-1 at md5(token)[:8] mod dim (sign from the top
    bit), then the vector is L2-normalized and stored as float32."""
    v = np.zeros(dim)
    for tok in text.split():
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        v[h % dim] += 1.0 if h >> 63 else -1.0
    n = np.linalg.norm(v)
    return (v / n if n > 0 else v).astype(np.float32)


class ExactIndex:
    """The corpus as it stands, for exact top-k answers.

    Candidates come from a float32 GEMM; the best ``probe`` of them are
    re-scored exactly in float64 (direct difference, no expansion), and
    a query whose k-th exact distance is not safely inside the float32
    candidate radius is re-scored over the whole corpus."""

    def __init__(self, ids: list[str], vectors: np.ndarray, probe: int = 64):
        self.ids = np.asarray(ids, dtype=object)
        self.vecs = np.ascontiguousarray(vectors, dtype=np.float32)
        self.sq = (self.vecs.astype(np.float64) ** 2).sum(axis=1)
        self.probe = probe

    def __len__(self) -> int:
        return len(self.ids)

    def exact(self, rows: np.ndarray, q: np.ndarray) -> np.ndarray:
        d = self.vecs[rows].astype(np.float64) - q.astype(np.float64)[None, :]
        return np.sqrt((d * d).sum(axis=1))

    def topk(self, queries: np.ndarray, k: int = 5) -> list[list[tuple[float, str]]]:
        """Per query: the sorted ``(distance, id)`` list of every row within
        TIE_TOL of the k-th distance (so boundary ties are all present)."""
        q32 = np.atleast_2d(queries).astype(np.float32)
        approx = self.sq[:, None] - 2.0 * (self.vecs @ q32.T) + (q32.astype(np.float64) ** 2).sum(axis=1)[None, :]
        p = min(self.probe, len(self))
        cand = np.argpartition(approx, p - 1, axis=0)[:p] if p < len(self) else np.tile(np.arange(len(self))[:, None], (1, len(q32)))
        out = []
        for j, q in enumerate(q32):
            rows = cand[:, j]
            d = self.exact(rows, q)
            kth = np.sort(d)[min(k, len(d)) - 1]
            if p < len(self):
                radius = np.sqrt(max(np.max(approx[rows, j]), 0.0))
                if kth + 1e-3 * (1.0 + kth) >= radius:
                    rows = np.arange(len(self))
                    d = self.exact(rows, q)
                    kth = np.sort(d)[k - 1]
            keep = d <= kth + TIE_TOL * max(1.0, kth)
            out.append(sorted(zip(d[keep].tolist(), self.ids[rows[keep]].tolist())))
        return out


def check_topk(got: list[str], expected: list[tuple[float, str]], k: int = 5) -> str | None:
    """``got``: result ids in the engine's order.  ``expected``: from
    :meth:`ExactIndex.topk`.  Ordered by (distance, id); rows whose
    distances are within TIE_TOL count in either order.  Returns None when
    correct, else a reason."""
    if len(got) != min(k, len(expected)) or len(set(got)) != len(got):
        return f"expected {k} distinct ids, got {got}"
    dist = {i: d for d, i in expected}
    for rank, gid in enumerate(got):
        if gid not in dist:
            return f"rank {rank}: {gid} is not in the exact top-{k}"
        want = expected[rank][0]
        if abs(dist[gid] - want) > TIE_TOL * max(1.0, want):
            return f"rank {rank}: {gid} at {dist[gid]!r}, exact rank distance {want!r}"
    return None
