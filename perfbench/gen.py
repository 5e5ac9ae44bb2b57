"""Seeded input generator for the benchmark.

Everything here is a pure function of ``(seed, sizes)``: no Spark, no
clock, no filesystem.  The measuring code hands the engine only what
this module returns, and checks :func:`digest` of it against the
recorded value in ``digests.json`` so a change to the PDF writer (or to
this module) cannot quietly make the load lighter or heavier.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

import numpy as np

from engine import make_pdf
from oracle import normalize, split_chunks

DIM = 1536  # the reference's text-embedding-ada-002 dimensionality

_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z",
           "br", "ch", "st", "tr", "pl", "gr", "sh", "th"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou", "ea"]
_PUNCT = ".:;?!"


@dataclass
class PdfFile:
    name: str
    data: bytes
    pages: list[str]  # page text as written into the PDF (before extraction)

    @property
    def normalized(self) -> list[str]:
        return [normalize(p) for p in self.pages]


@dataclass
class Request:
    kind: str  # "search" | "listing" | "append"
    text: str = ""  # search: the query text
    listing: str = ""  # listing: "completed" | "failed"
    file: PdfFile | None = None  # append: the landed PDF


@dataclass
class ServeInputs:
    corpus: list[PdfFile]
    requests: list[Request]


@dataclass
class BatchInputs:
    ids: list[str]
    vectors: np.ndarray  # (N, DIM) float32
    centers: np.ndarray = field(repr=False)
    seed: int = 0
    batch_size: int = 256

    def queries(self, b: int) -> np.ndarray:
        """Query batch ``b``: points near mixture centers; a pure function
        of (seed, b) so the run may consume any prefix of batches."""
        rng = np.random.default_rng([self.seed, 3, b])
        pick = rng.integers(len(self.centers), size=self.batch_size)
        noise = rng.standard_normal((self.batch_size, DIM))
        return (self.centers[pick] + 0.35 * noise).astype(np.float32)


def _vocab(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = rng.choice((1, 2, 2, 3, 3, 4))
        words.add("".join(rng.choice(_ONSETS) + rng.choice(_VOWELS) for _ in range(k)))
    return sorted(words)


def _page(rng: random.Random, vocab: list[str]) -> str:
    """One page: about half the pages exceed the 7500-char chunk limit,
    and a sixth of those carry no punctuation at all, so the chunker's
    no-punctuation fallback (cut at 7200) is exercised."""
    r = rng.random()
    if r < 0.5:
        target, punct = rng.randint(600, 7000), True
    elif r < 0.85:
        target, punct = rng.randint(7600, 16000), True
    else:
        target, punct = rng.randint(7600, 16000), False
    lines, line, size, width = [], [], 0, 0
    while size < target:
        w = rng.choice(vocab)
        if punct and rng.random() < 0.06:
            w += rng.choice(_PUNCT)
        elif rng.random() < 0.03:
            w += ","
        if rng.random() < 0.02:
            w += " "  # a double space, collapsed by normalization
        line.append(w)
        size += len(w) + 1
        width += len(w) + 1
        if width > 90:
            lines.append(" ".join(line))
            line, width = [], 0
    if line:
        lines.append(" ".join(line))
    return "\n".join(lines)


def _pdf(rng: random.Random, vocab: list[str], name: str, n_pages: int) -> PdfFile:
    pages = [_page(rng, vocab) for _ in range(n_pages)]
    return PdfFile(name, make_pdf(pages), pages)


def ingest_batch(seed: int, b: int, files: int, pages_per_file: int) -> list[PdfFile]:
    """Measured ingest batch ``b`` (``files`` PDFs): a pure function of
    (seed, b) so a run may consume any prefix of batches."""
    rng = random.Random(f"ingest/{seed}/{b}")
    vocab = _vocab(random.Random(f"vocab/{seed}"), 4000)
    return [_pdf(rng, vocab, f"b{b:03d}_f{i:04d}.pdf", pages_per_file) for i in range(files)]


def _span(rng: random.Random, text: str) -> str:
    words = text.split(" ")
    n = rng.randint(20, 40)
    if len(words) <= n:
        return " ".join(words)
    start = rng.randrange(len(words) - n)
    return " ".join(words[start:start + n])


def _chunk_of(rng: random.Random, f: PdfFile) -> str:
    page = rng.choice(f.normalized)
    return rng.choice(split_chunks(page))


def serve_inputs(seed: int, corpus_files: int, pages_per_file: int, blocks: int) -> ServeInputs:
    """Corpus files plus a closed-loop request sequence in blocks of ten:
    8 searches, 1 status listing and 1 append, in seeded order.  A search
    after an append draws its text from the appended file; query texts
    never repeat, so no query vector repeats."""
    rng = random.Random(f"serve/{seed}")
    vocab = _vocab(random.Random(f"vocab/{seed}"), 4000)
    corpus = [_pdf(rng, vocab, f"c{i:04d}.pdf", pages_per_file) for i in range(corpus_files)]
    pool = list(corpus)
    requests: list[Request] = []
    seen: set[str] = set()
    fresh: PdfFile | None = None
    for blk in range(blocks):
        kinds = ["search"] * 8 + ["listing", "append"]
        rng.shuffle(kinds)
        for kind in kinds:
            if kind == "append":
                fresh = _pdf(rng, vocab, f"a{blk:04d}.pdf", pages_per_file)
                pool.append(fresh)
                requests.append(Request("append", file=fresh))
            elif kind == "listing":
                requests.append(Request("listing", listing=rng.choice(("completed", "failed"))))
            else:
                src = fresh if fresh is not None else rng.choice(pool)
                fresh = None
                text = _span(rng, _chunk_of(rng, src))
                while text in seen:
                    text = _span(rng, _chunk_of(rng, rng.choice(pool)))
                seen.add(text)
                requests.append(Request("search", text=text))
    return ServeInputs(corpus, requests)


def batch_inputs(seed: int, rows: int, centers: int, batch_size: int) -> BatchInputs:
    """A dense Gaussian mixture: ``rows`` vectors around ``centers``
    unit-variance centers, within-cluster noise sigma 0.35."""
    rng = np.random.default_rng([seed, 3])
    c = rng.standard_normal((centers, DIM))
    assign = rng.integers(centers, size=rows)
    vecs = (c[assign] + 0.35 * rng.standard_normal((rows, DIM))).astype(np.float32)
    return BatchInputs([f"v{i:07d}" for i in range(rows)], vecs, c, seed, batch_size)


def digest(*parts) -> str:
    """sha256 over generated inputs (PDF bytes, texts, vectors)."""
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, PdfFile):
            feed(x.name)
            feed(x.data)
        elif isinstance(x, Request):
            feed(x.kind)
            feed(x.text)
            feed(x.listing)
            if x.file is not None:
                feed(x.file)
        elif isinstance(x, np.ndarray):
            h.update(np.ascontiguousarray(x).tobytes())
        elif isinstance(x, bytes):
            h.update(len(x).to_bytes(8, "little"))
            h.update(x)
        elif isinstance(x, str):
            feed(x.encode())
        elif isinstance(x, (list, tuple)):
            for y in x:
                feed(y)
        else:
            raise TypeError(type(x))

    for p in parts:
        feed(p)
    return h.hexdigest()


def workload_inputs(workload: str, seed: int, sizes: dict):
    """The generated inputs a workload sets up with, and the parts of
    them its digest covers."""
    if workload == "ingest_pdf":
        warm = ingest_batch(seed, -1, sizes["warm_files"], sizes["pages_per_file"])
        first = ingest_batch(seed, 0, sizes["batch_files"], sizes["pages_per_file"])
        return (warm, first), [warm, first]
    if workload == "serve_mixed":
        s = serve_inputs(seed, sizes["corpus_files"], sizes["pages_per_file"], sizes["blocks"])
        return s, [s.corpus, s.requests]
    if workload == "retrieve_batch":
        b = batch_inputs(seed, sizes["rows"], sizes["centers"], sizes["batch_size"])
        return b, [b.ids, b.vectors, b.queries(0), b.queries(1)]
    raise ValueError(f"unknown workload {workload!r}")


def canary_digest() -> str:
    """Digest of small fixed-seed inputs from every generator: checked on
    every run, whatever its seed."""
    return digest(
        ingest_batch(0, 0, 2, 3),
        serve_inputs(0, 2, 2, 1).requests,
        batch_inputs(0, 64, 4, 8).vectors,
    )
