"""Text normalization + punctuation-aware chunking.

Exact behavioral port of the reference ingestion text path:

* normalization — ``"\\n"`` -> space, then collapse ``\\s{2,}`` to one
  space (Function.java:108-109).
* chunking — pages longer than 7500 chars are split repeatedly; each cut
  point is found by scanning **backwards from index 7500 down to (but
  not including) 7200** for a punctuation char in ``. : ; ? !``
  (Function.java:216-252).  Two subtleties pinned by unit goldens:

  - the punctuation char found at index ``i`` begins the **next** chunk
    (``substring(0, i)`` keeps chars before it);
  - if no punctuation exists in ``(7200, 7500]`` the scan loop exits at
    ``splitIndex == start`` and the cut lands at **7200** — the
    ``splitIndex == 0 -> maxLength`` fallback in the reference is
    unreachable because ``start`` is always 7200 > 0.  (The reference's
    own comment claims "split every 7500 characters"; the code does
    7200.  We replicate the code, not the comment.)

Lengths are in UTF-16 code units in Java and code points here; the two
agree for all BMP text (documented choice, FIXTURES.md §3.8).

The chunker runs natively: :func:`split_chunks_col` expresses the
whole cut loop as one ``regexp_extract_all`` and :func:`chunk_exploded`
stages normalization and the chunk array, then explodes it to one
row per chunk — no Python eval node, so page text crosses the
JVM<->Python boundary only at the embedder.  The pure-Python
:func:`split_chunks` is the oracle it is parity-tested against.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_CHUNK_LEN = 7500  # MAX_SEPARATE_TOKEN_LENGTH, Function.java:40
SPLIT_WINDOW = 300    # scan window size, Function.java:234 (start = max - 300)
PUNCTUATION = frozenset(".:;?!")  # Function.java:250-252

# Java's \s is ASCII-only by default; match it exactly.
_WS_RUN = re.compile(r"\s{2,}", re.ASCII)


def normalize_whitespace(text: str) -> str:
    """Pure-Python twin of :func:`normalize_whitespace_col` (the oracle)."""
    return _WS_RUN.sub(" ", text.replace("\n", " "))


def normalize_whitespace_col(col: Column | str) -> Column:
    """Native (codegen'd) normalization: \\n -> ' ', then \\s{2,} -> ' '."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_replace(c, "\n", " "), "\\s{2,}", " ")


def find_split_index(text: str) -> int:
    """Port of Function.java:232-247 (see module docstring for edge cases)."""
    start = MAX_CHUNK_LEN - SPLIT_WINDOW
    split_index = MAX_CHUNK_LEN
    while split_index > start:
        if text[split_index] in PUNCTUATION:
            break
        split_index -= 1
    if split_index == 0:  # unreachable for start > 0; kept for fidelity
        split_index = MAX_CHUNK_LEN
    return split_index


def split_chunks(text: str) -> list[str]:
    """Port of Function.java:216-228: repeated cut + remainder.

    Invariants (property-tested): ``''.join(chunks) == text``; every
    chunk except the last has length in [7200, 7500]; input of length
    <= MAX_CHUNK_LEN yields exactly [text] (including the empty page).
    """
    chunks: list[str] = []
    while len(text) > MAX_CHUNK_LEN:
        i = find_split_index(text)
        chunks.append(text[:i])
        text = text[i:]
    chunks.append(text)
    return chunks


def split_chunks_col(norm: Column) -> Column:
    """``array<string>`` of chunks for an ALREADY normalized text
    column — the r14 native port of :func:`split_chunks` (guide §4:
    the punctuation-window scan is pure integer/string work, so the
    corpus text no longer crosses the Python boundary just to be cut).

    The whole Function.java:216-252 loop is ONE ordered-alternation
    regex over the text, evaluated by a single codegen'd
    ``regexp_extract_all`` (global matching resumes where the previous
    chunk ended, which IS the loop's remainder semantics):

    1. ``(?=.{7501}).{7201,7500}(?=[.:;?!])`` — more than MAX_CHUNK_LEN
       remains and some position in the scan window ``(7200, 7500]``
       holds a punctuation char: the GREEDY bounded quantifier
       backtracks from 7500 down, so the first success is the LAST
       such position — exactly the reference's backwards scan — and
       the lookahead leaves the punctuation char to start the next
       chunk;
    2. ``(?=.{7501}).{7200}`` — more than MAX_CHUNK_LEN remains, no
       punctuation in the window: cut at 7200 (the reference's
       splitIndex == start exit);
    3. ``.{1,7500}$`` — the remainder.

    Every position with >= 1 char remaining matches one alternative
    (when more than MAX_CHUNK_LEN remains, alternative 2 always can), so
    matches are contiguous and ``''.join(chunks) == text`` holds.  The
    empty page is the one case with no match — handled by the explicit
    CASE (the reference returns ``['']``).  Lengths are code points on
    both sides; the BMP caveat in the module docstring applies
    unchanged.

    Callers should stage ``norm`` and the result as real columns
    before exploding — see :func:`chunk_exploded` — or expression
    duplication re-runs the scan per reference (the repo's
    explode-staging pitfall, r13).
    """
    start = MAX_CHUNK_LEN - SPLIT_WINDOW
    punct = "[.:;?!]"
    pat = (
        f"(?s)(?:(?=.{{{MAX_CHUNK_LEN + 1}}}).{{{start + 1},{MAX_CHUNK_LEN}}}(?={punct})"
        f"|(?=.{{{MAX_CHUNK_LEN + 1}}}).{{{start}}}"
        f"|.{{1,{MAX_CHUNK_LEN}}}$)"
    )
    return F.when(F.length(norm) == 0, F.array(F.lit(""))).otherwise(
        F.regexp_extract_all(norm, F.lit(pat), 0)
    )


def chunk_exploded(df, text_col: str = "text"):
    """normalize -> split -> posexplode: ``df``'s columns plus
    ``(chunk_index, chunk_text)``, one row per chunk.

    r14: fully native (no Python eval node) — normalization and the
    chunk array are staged as real columns (bare attributes) so each
    is evaluated once per row, then posexplode'd.  A NULL text yields
    no rows (``None -> []`` -> posexplode drops the row).  Parity-tested
    against the pure-Python :func:`split_chunks`."""
    cols = list(df.columns)
    staged = df.withColumn(
        "_cnorm", normalize_whitespace_col(text_col)
    ).withColumn("_cchunks", split_chunks_col(F.col("_cnorm")))
    # posexplode_outer, NOT posexplode: plain posexplode infers a
    # size(arr) > 0 filter that re-inlines the whole staged pipeline
    # below the Generate (the repo's explode-staging pitfall — measured
    # 3x here: 116 regexp_replace nodes in the plan).  The outer form
    # adds no filter; the only rows it keeps that inner would drop are
    # the empty/null arrays (NULL text), which surface as NULL
    # positions and are dropped by one cheap post-Generate filter on
    # the OUTPUT attribute (None -> [] -> no rows).
    return staged.select(
        *cols, F.posexplode_outer("_cchunks").alias("chunk_index", "chunk_text")
    ).filter(F.col("chunk_index").isNotNull())


def sliding_chunks_col(text_col, size: int = 400, overlap: int = 100):
    """Fixed-size sliding-window chunking with overlap — the modern RAG
    alternative to the reference's punctuation-aware splitter
    (Function.java:216-252): deterministic window starts every
    ``size - overlap`` chars, each chunk ``size`` chars (the last one
    shorter), consecutive chunks sharing ``overlap`` chars so no
    sentence is ever lost to a boundary.

    Pure codegen: ``sequence`` over window starts + ``substring`` per
    element — no UDF, no shuffle, replayable in any SQL engine.
    Returns ``array<struct<chunk_index int, chunk string>>``."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    if overlap >= size:
        raise ValueError(f"overlap {overlap} must be < size {size}")
    step = size - overlap
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    n = F.length(c)
    # number of windows: 1 + ceil(max(len - size, 0) / step), via ints
    extra = F.greatest(n - F.lit(size), F.lit(0))
    n_win = F.lit(1) + F.ceil(extra.cast("double") / F.lit(step)).cast("int")
    idx = F.sequence(F.lit(0), n_win - F.lit(1))
    return F.transform(
        idx,
        lambda i: F.struct(
            i.cast("int").alias("chunk_index"),
            F.substring(c, i * step + 1, size).alias("chunk"),
        ),
    )
