"""Unit + property tests for the chunker port (Function.java:216-252)
and the whitespace normalizer (Function.java:108-109)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.text import (
    MAX_CHUNK_LEN,
    SPLIT_WINDOW,
    find_split_index,
    normalize_whitespace,
    split_chunks,
)

START = MAX_CHUNK_LEN - SPLIT_WINDOW  # 7200


class TestNormalize:
    def test_newline_to_space(self):
        assert normalize_whitespace("a\nb") == "a b"

    def test_collapse_runs(self):
        assert normalize_whitespace("a  b   c") == "a b c"

    def test_newline_runs_collapse(self):
        # "\n\n" -> "  " -> " "
        assert normalize_whitespace("a\n\nb") == "a b"

    def test_tabs_collapse_only_in_runs(self):
        # Java \s{2,}: a single tab survives, a run collapses to one space
        assert normalize_whitespace("a\tb") == "a\tb"
        assert normalize_whitespace("a\t\tb") == "a b"

    def test_empty(self):
        assert normalize_whitespace("") == ""


class TestFindSplitIndex:
    def test_punctuation_at_max(self):
        text = "x" * (MAX_CHUNK_LEN + 100)
        text = text[:MAX_CHUNK_LEN] + "." + text[MAX_CHUNK_LEN + 1 :]
        assert find_split_index(text) == MAX_CHUNK_LEN

    def test_punctuation_inside_window(self):
        text = "x" * 7300 + "." + "x" * 400  # punct at index 7300
        assert find_split_index(text) == 7300

    def test_no_punctuation_lands_at_window_start(self):
        # Scan exits at splitIndex == start == 7200 (the reference's
        # comment says 7500; the code does 7200 — we replicate the code).
        text = "x" * (MAX_CHUNK_LEN + 1000)
        assert find_split_index(text) == START

    def test_punctuation_at_window_start_not_found(self):
        # index 7200 is excluded (loop condition is splitIndex > start)
        text = "x" * START + "." + "x" * 800
        assert find_split_index(text) == START

    def test_punctuation_just_above_window_start(self):
        text = "x" * (START + 1) + "." + "x" * 800
        assert find_split_index(text) == START + 1

    def test_picks_last_punctuation_in_window(self):
        text = "x" * 7250 + "." + "x" * 100 + ";" + "x" * 500
        assert find_split_index(text) == 7351


class TestSplitChunks:
    def test_short_text_single_chunk(self):
        assert split_chunks("hello") == ["hello"]

    def test_exactly_max_single_chunk(self):
        t = "x" * MAX_CHUNK_LEN
        assert split_chunks(t) == [t]

    def test_max_plus_one_splits_at_window_start(self):
        t = "x" * (MAX_CHUNK_LEN + 1)
        chunks = split_chunks(t)
        assert [len(c) for c in chunks] == [START, MAX_CHUNK_LEN + 1 - START]

    def test_punctuation_starts_next_chunk(self):
        # The punctuation char found at index i begins the NEXT chunk.
        t = "x" * 7400 + "." + "y" * 7000
        chunks = split_chunks(t)
        assert chunks[0] == "x" * 7400
        assert chunks[1].startswith(".")

    def test_empty_string(self):
        assert split_chunks("") == [""]

    def test_multi_split(self):
        t = "x" * 30000
        chunks = split_chunks(t)
        assert [len(c) for c in chunks[:-1]] == [START] * (len(chunks) - 1)
        assert sum(len(c) for c in chunks) == 30000

    @given(st.text(alphabet="ab .:;?!\n", max_size=20000))
    @settings(max_examples=200, deadline=None)
    def test_property_concat_roundtrip(self, t):
        chunks = split_chunks(t)
        assert "".join(chunks) == t

    @given(st.text(alphabet="ab .:;?!", min_size=0, max_size=40000))
    @settings(max_examples=100, deadline=None)
    def test_property_chunk_bounds(self, t):
        chunks = split_chunks(t)
        # all but the last chunk: length in [START, MAX]; last <= MAX
        for c in chunks[:-1]:
            assert START <= len(c) <= MAX_CHUNK_LEN
        assert len(chunks[-1]) <= MAX_CHUNK_LEN
        if len(t) <= MAX_CHUNK_LEN:
            assert chunks == [t]


class TestNativeChunkerParity:
    def test_native_regex_matches_python_reference(self, spark):
        """r14: the hot path is the NATIVE single-regex chunker
        (split_chunks_col / chunk_exploded) — assert byte-identical
        chunks against the pure-Python reference across the
        7200/7500 punctuation-window edges, multi-cut texts, the empty
        page and NULL, plus randomized punctuated texts."""
        import random

        from pyspark.sql import functions as F

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.text import (
            chunk_exploded,
            normalize_whitespace,
            split_chunks,
        )

        random.seed(14)
        base = "abcdefghij" * 751  # 7510 chars, no punctuation
        cases = ["", "short.", "x" * 7500, "x" * 7501, base, None]
        for pos in (7199, 7200, 7201, 7205, 7499, 7500):
            s = list(base)
            s[pos] = "."
            cases.append("".join(s))
        both = list(base)
        both[7201] = ";"
        both[7500] = "?"  # scan must pick 7500, not 7201
        cases.append("".join(both))
        for _ in range(10):
            n = random.randint(0, 40000)
            cases.append(
                "".join(random.choice("ab cd.ef:g;h?i!x") for _ in range(n))
            )
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(cases)], "i long, t string"
        )
        out = (
            chunk_exploded(df, "t")
            .groupBy("i")
            .agg(
                F.sort_array(F.collect_list(F.struct("chunk_index", "chunk_text"))).alias("cs")
            )
            .collect()
        )
        got = {r["i"]: [x["chunk_text"] for x in r["cs"]] for r in out}
        for i, t in enumerate(cases):
            want = [] if t is None else split_chunks(normalize_whitespace(t))
            assert got.get(i, []) == want, f"case {i}"


class TestSlidingChunks:
    def test_overlap_contract(self, spark):
        from pyspark.sql import functions as F

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.text import (
            sliding_chunks_col,
        )

        text = "abcdefghi." * 10  # 100 chars; '.' marks each decade
        df = spark.createDataFrame([(1, text)], "id int, text string")
        rows = (
            df.select(F.explode(sliding_chunks_col("text", size=40, overlap=10)).alias("c"))
            .select("c.chunk_index", "c.chunk")
            .collect()
        )
        chunks = [r["chunk"] for r in sorted(rows, key=lambda r: r["chunk_index"])]
        # windows start every 30 chars: 0, 30, 60 — the third reaches
        # char 100 exactly, so 3 windows give complete coverage
        assert len(chunks) == 3
        assert all(len(c) == 40 for c in chunks)
        for a, b in zip(chunks, chunks[1:]):
            assert a[-10:] == b[:10]  # consecutive chunks share the overlap
        # reassembly: stitching non-overlap prefixes + last chunk = original
        assert "".join(c[:30] for c in chunks[:-1]) + chunks[-1] == text

    def test_short_tail_window(self, spark):
        from pyspark.sql import functions as F

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.text import (
            sliding_chunks_col,
        )

        text = "x" * 95  # starts 0,30,60; last window holds chars 61-95
        df = spark.createDataFrame([(1, text)], "id int, text string")
        rows = df.select(
            F.explode(sliding_chunks_col("text", size=40, overlap=10)).alias("c")
        ).collect()
        lens = sorted(len(r["c"]["chunk"]) for r in rows)
        assert lens == [35, 40, 40]

    def test_short_text_single_window(self, spark):
        from pyspark.sql import functions as F

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.text import (
            sliding_chunks_col,
        )

        df = spark.createDataFrame([(1, "tiny")], "id int, text string")
        rows = df.select(
            F.explode(sliding_chunks_col("text", size=40, overlap=10)).alias("c")
        ).collect()
        assert len(rows) == 1
        assert rows[0]["c"]["chunk"] == "tiny"

    def test_overlap_must_be_smaller(self, spark):
        import pytest as _pytest

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.text import (
            sliding_chunks_col,
        )

        with _pytest.raises(ValueError):
            sliding_chunks_col("text", size=10, overlap=10)
