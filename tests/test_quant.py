"""Quantized vector search (operators/quant.py): numpy-replicated
encodings, recall-vs-exact floors, and the coarse/rerank contract."""

from __future__ import annotations

import numpy as np
import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
    knn,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.quant import (
    binary_encode,
    hamming_knn,
    matryoshka_knn,
    sq8_encode,
    sq8_knn,
)
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def np_emb(emb):
    rows = emb.select("vec_id", "embedding").collect()
    return {r["vec_id"]: np.array(r["embedding"], dtype=np.float32) for r in rows}


def query_df(emb, probe_id):
    return emb.filter(F.col("vec_id") == probe_id).select(
        F.col("embedding").alias("query_vec")
    )


class TestSq8Encode:
    def test_codes_match_numpy(self, emb, np_emb):
        out = sq8_encode(emb).select("vec_id", "scale", "code").limit(50).collect()
        for r in out:
            x = np_emb[r["vec_id"]].astype(np.float64)
            scale = max(np.abs(x).max(), 1e-30) / 127.0
            expect = np.floor(x / scale + 0.5)
            assert r["scale"] == pytest.approx(scale, rel=1e-12)
            assert list(expect) == list(r["code"])

    def test_codes_bounded(self, emb):
        stats = (
            sq8_encode(emb)
            .select(F.explode("code").alias("c"))
            .agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
            .collect()[0]
        )
        assert -127 <= stats["lo"] and stats["hi"] <= 127


class TestBinaryEncode:
    def test_words_match_numpy(self, emb, np_emb):
        out = binary_encode(emb).select("vec_id", "bwords").limit(50).collect()
        for r in out:
            x = np_emb[r["vec_id"]]
            bits = (x >= 0).astype(np.int64)
            words = [
                int(sum(bits[j * 16 + i] << i for i in range(16)))
                for j in range(len(x) // 16)
            ]
            assert words == list(r["bwords"])

    def test_word_range(self, emb):
        stats = (
            binary_encode(emb)
            .select(F.explode("bwords").alias("w"))
            .agg(F.min("w").alias("lo"), F.max("w").alias("hi"))
            .collect()[0]
        )
        assert 0 <= stats["lo"] and stats["hi"] < 1 << 16


class TestQuantSearchRecall:
    """Each coarse path must recover the exact top-5 at oversample=10 on
    the fixture corpus (500 vecs, pool of 50) — and the rerank makes the
    reported distances exactly the true L2s."""

    @pytest.mark.parametrize("probe", [0, 5, 11])
    def test_sq8_matches_exact(self, emb, probe):
        exact = knn(emb, query_df(emb, probe), k=5, metric="l2", payload_cols=["vec_id"])
        got = sq8_knn(emb, query_df(emb, probe), k=5, oversample=10)
        e = [(r["vec_id"], round(r["distance"], 6)) for r in exact.collect()]
        g = [(r["vec_id"], round(r["distance"], 6)) for r in got.collect()]
        assert e == g

    @pytest.mark.parametrize("probe", [0, 6])
    def test_matryoshka_matches_exact(self, emb, probe):
        exact = knn(emb, query_df(emb, probe), k=5, metric="l2", payload_cols=["vec_id"])
        got = matryoshka_knn(emb, query_df(emb, probe), k=5, prefix_dim=16, oversample=10)
        e = [r["vec_id"] for r in exact.collect()]
        g = [r["vec_id"] for r in got.collect()]
        # prefix-dim recall on non-MRL synthetic vectors is weaker; the
        # probe itself (distance 0) must always survive, and reported
        # distances must be true L2 (ascending).
        assert g[0] == e[0]
        d = [r["distance"] for r in got.collect()]
        assert d == sorted(d)

    @pytest.mark.parametrize("probe", [0, 6])
    def test_hamming_self_hit(self, emb, probe):
        got = hamming_knn(emb, query_df(emb, probe), k=5, oversample=10).collect()
        assert got[0]["vec_id"] == probe
        assert got[0]["distance"] == pytest.approx(0.0, abs=1e-9)

    def test_sq8_recall_at5_floor(self, emb, spark):
        # sweep 20 probes; int8 coarse + 10x oversample should be lossless
        # (recall 1.0) on this corpus — pin a floor of 0.95 for slack.
        hits = total = 0
        for probe in range(20):
            exact = [
                r["vec_id"]
                for r in knn(
                    emb, query_df(emb, probe), k=5, metric="l2", payload_cols=["vec_id"]
                ).collect()
            ]
            got = {
                r["vec_id"]
                for r in sq8_knn(emb, query_df(emb, probe), k=5, oversample=10).collect()
            }
            hits += len(got.intersection(exact))
            total += len(exact)
        assert hits / total >= 0.95


class TestSq8Index:
    @pytest.fixture(scope="class")
    def index_path(self, emb, tmp_path_factory):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.quant import (
            sq8_index_write,
        )

        path = str(tmp_path_factory.mktemp("sq8") / "codes")
        sq8_index_write(emb, path, payload_cols=["label"])
        return path

    def test_artifact_holds_codes_not_floats(self, spark, index_path):
        # the persisted table is the 4x-smaller scan target: codes+scale
        # only, no float embedding column anywhere in it.
        codes = spark.read.parquet(index_path)
        assert set(codes.columns) == {"vec_id", "label", "scale", "code"}

    def test_matches_inline_path(self, spark, emb, index_path):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.quant import (
            sq8_index_search,
        )

        q = list(emb.filter(F.col("vec_id") == 3).first()["embedding"])
        got = sq8_index_search(spark, index_path, emb, q, k=5, oversample=10,
                               payload_cols=["label"]).collect()
        inline = sq8_knn(
            emb,
            emb.filter(F.col("vec_id") == 3).select(F.col("embedding").alias("query_vec")),
            k=5, oversample=10, payload_cols=["label"],
        ).collect()
        assert [(r["vec_id"], round(r["distance"], 9)) for r in got] == [
            (r["vec_id"], round(r["distance"], 9)) for r in inline
        ]

    def test_rerank_filter_is_pushed(self, spark, emb, index_path):
        # candidate re-read must reach the corpus scan as a pushed In
        # filter (row-group pruning at scale), not a post-scan Filter only.
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.quant import (
            sq8_index_search,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.plans.inspect import (
            pushed_filters,
        )

        corpus = spark.read.parquet(f"{SF}/embeddings.parquet")
        q = list(emb.filter(F.col("vec_id") == 3).first()["embedding"])
        out = sq8_index_search(spark, index_path, corpus, q, k=5, oversample=10)
        assert any("In(vec_id" in f for f in pushed_filters(out))


class TestIvfSq8Index:
    """IVFADC-style combined index: both 100 TB levers in one artifact —
    static partition prune to probed lists AND int8 codes inside them."""

    @pytest.fixture(scope="class")
    def centroids(self, emb):
        return emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )

    @pytest.fixture(scope="class")
    def index_path(self, emb, centroids, tmp_path_factory):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.quant import (
            ivf_sq8_index_write,
        )

        path = str(tmp_path_factory.mktemp("ivfsq8") / "index")
        ivf_sq8_index_write(emb, centroids, path, payload_cols=["label"])
        return path

    def test_layout_partitioned_codes_only(self, spark, index_path):
        import os

        dirs = [d for d in os.listdir(index_path) if d.startswith("centroid_id=")]
        assert len(dirs) > 1  # one directory per inverted list
        codes = spark.read.parquet(index_path)
        assert "embedding" not in codes.columns  # int8 artifact, no floats
        assert {"scale", "code", "vec_id", "label"} <= set(codes.columns)

    def test_probe_is_partition_pruned_and_rerank_pushed(
        self, spark, emb, centroids, index_path
    ):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.quant import (
            ivf_sq8_index_search,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.plans.inspect import (
            partition_filters,
            pushed_filters,
        )

        q = list(emb.filter(F.col("vec_id") == 5).first()["embedding"])
        out = ivf_sq8_index_search(
            spark, index_path, centroids, emb, q, k=5, nprobe=1, oversample=10
        )
        # rerank side: candidate In-filter pushed into the corpus scan
        assert any("In(vec_id" in f for f in pushed_filters(out))
        # coarse side: rebuild the probed-codes scan and check the prune
        codes = spark.read.parquet(index_path).filter(
            F.col("centroid_id").isin([0])
        )
        assert any("centroid_id" in f for f in partition_filters(codes))

    def test_exhaustive_probe_equals_sq8(self, spark, emb, centroids, index_path):
        # probing ALL lists removes the IVF approximation: result must
        # equal the plain SQ8 search (same quantizer, same rerank).
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.quant import (
            ivf_sq8_index_search,
        )

        q = list(emb.filter(F.col("vec_id") == 9).first()["embedding"])
        got = ivf_sq8_index_search(
            spark, index_path, centroids, emb, q, k=5, nprobe=16, oversample=10
        ).collect()
        ref = sq8_knn(
            emb, query_df(emb, 9), k=5, oversample=10
        ).collect()
        assert [(r["vec_id"], round(r["distance"], 9)) for r in got] == [
            (r["vec_id"], round(r["distance"], 9)) for r in ref
        ]


class TestBinaryEncodeGuard:
    def test_raises_on_non_multiple_dim(self, spark):
        """ADVICE r4: a dim that is not a multiple of word_bits must fail
        loudly instead of silently truncating trailing dimensions."""
        from pyspark.errors import PySparkRuntimeError, SparkRuntimeException

        df = spark.createDataFrame(
            [(1, [float(i) for i in range(60)])], ["vec_id", "embedding"]
        )
        with pytest.raises((PySparkRuntimeError, SparkRuntimeException, Exception)) as ei:
            binary_encode(df).select("bwords").collect()
        assert "multiple of word_bits" in str(ei.value)


class TestSq8KnnJoin:
    """Batched quantized search (VERDICT r4 item 4)."""

    def test_matches_exact_batch(self, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
            knn_join,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.quant import (
            sq8_knn_join,
        )

        queries = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        exact = knn_join(emb, queries, k=5, payload_cols=["vec_id"])
        got = sq8_knn_join(emb, queries, k=5, oversample=10)
        e = sorted(
            (r["query_id"], r["rank"], r["vec_id"], round(r["distance"], 6))
            for r in exact.collect()
        )
        g = sorted(
            (r["query_id"], r["rank"], r["vec_id"], round(r["distance"], 6))
            for r in got.collect()
        )
        assert e == g

    def test_shuffles_are_narrow(self, emb):
        """Neither exchange (coarse window, rerank window) may carry an
        embedding, a code array, or a query vector — the property that
        makes the batch shape viable at 100 TB."""
        import re

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.quant import (
            sq8_knn_join,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.plans.inspect import (
            explain_str,
        )

        queries = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        df = sq8_knn_join(emb, queries, k=5, oversample=10, payload_cols=["label"])
        plan = explain_str(df, "formatted")
        shuffles = re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
        assert shuffles, "expected shuffle exchanges in the plan"
        for inputs in shuffles:
            assert "embedding" not in inputs and "code" not in inputs and "query_vec" not in inputs, inputs


class TestQuantBatchVariants:
    """r5: hamming/matryoshka batch forms share the sq8 batch tail —
    same winner sets as N single-query calls, same narrow shuffles."""

    def _queries(self, emb):
        return emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )

    def test_hamming_batch_matches_single(self, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.quant import (
            hamming_knn,
            hamming_knn_join,
        )

        batch = hamming_knn_join(emb, self._queries(emb), k=5, oversample=10)
        got = {
            (r["query_id"], r["rank"]): (r["vec_id"], round(r["distance"], 6))
            for r in batch.collect()
        }
        for qid in range(4):
            q = emb.filter(F.col("vec_id") == qid).select(
                F.col("embedding").alias("query_vec")
            )
            single = hamming_knn(emb, q, k=5, oversample=10).collect()
            for rank, r in enumerate(single, 1):
                assert got[(qid, rank)] == (r["vec_id"], round(r["distance"], 6))

    def test_matryoshka_batch_matches_single(self, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.quant import (
            matryoshka_knn,
            matryoshka_knn_join,
        )

        batch = matryoshka_knn_join(
            emb, self._queries(emb), k=5, prefix_dim=16, oversample=10
        )
        got = {
            (r["query_id"], r["rank"]): (r["vec_id"], round(r["distance"], 6))
            for r in batch.collect()
        }
        for qid in range(4):
            q = emb.filter(F.col("vec_id") == qid).select(
                F.col("embedding").alias("query_vec")
            )
            single = matryoshka_knn(emb, q, k=5, prefix_dim=16, oversample=10).collect()
            for rank, r in enumerate(single, 1):
                assert got[(qid, rank)] == (r["vec_id"], round(r["distance"], 6))

    def test_batch_shuffles_are_narrow(self, emb):
        import re

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.quant import (
            hamming_knn_join,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.plans.inspect import (
            explain_str,
        )

        df = hamming_knn_join(emb, self._queries(emb), k=5, oversample=10)
        plan = explain_str(df, "formatted")
        shuffles = re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
        assert shuffles
        for inputs in shuffles:
            assert (
                "embedding" not in inputs
                and "bwords" not in inputs
                and "query_vec" not in inputs
            ), inputs


@pytest.mark.parametrize("join", ["sq8", "hamming", "matryoshka"])
def test_batch_repeated_query_id_raises(spark, join):
    """Two queries that share a ``query_id`` would merge in the shared
    tail's windows and re-attach: each quantized join raises, as
    ``knn_join`` does."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators import quant

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    queries = spark.createDataFrame(
        [(7, [1.0, 0.0, 0.0]), (7, [0.0, 1.0, 0.0])], "query_id long, query_vec array<float>"
    )
    fn, extra = {
        "sq8": (quant.sq8_knn_join, {}),
        "hamming": (quant.hamming_knn_join, {"word_bits": 1}),
        "matryoshka": (quant.matryoshka_knn_join, {"prefix_dim": 2}),
    }[join]
    with pytest.raises(Exception, match="query_id 7 repeats"):
        fn(corpus, queries, k=1, **extra).collect()
