"""PCA-projected search (operators/pca.py): numpy parity of the codegen
projection, fit determinism + sign canonicalization, recall contract of
the two-stage search, batched parity, persisted-index parity and plan
shape."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
    knn,
    knn_join,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.pca import (
    pca_fit,
    pca_index_search,
    pca_index_write,
    pca_knn,
    pca_knn_join,
    pca_project_col,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def emb_np(emb):
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, X


class TestFit:
    def test_projection_matches_numpy(self, emb, emb_np):
        ids, X = emb_np
        mu, comps = pca_fit(emb, out_dim=8)
        got = {
            r["vec_id"]: np.array(r["p"])
            for r in emb.withColumn(
                "p", pca_project_col("embedding", mu, comps)
            ).select("vec_id", "p").collect()
        }
        want = (X - mu) @ comps.T
        for i, vid in enumerate(ids):
            np.testing.assert_allclose(got[vid], want[i], rtol=1e-9, atol=1e-9)

    def test_fit_deterministic_and_sign_canonical(self, emb):
        mu1, c1 = pca_fit(emb, out_dim=8)
        mu2, c2 = pca_fit(emb, out_dim=8)
        np.testing.assert_array_equal(mu1, mu2)
        np.testing.assert_array_equal(c1, c2)
        for j in range(c1.shape[0]):
            i = int(np.argmax(np.abs(c1[j])))
            assert c1[j, i] > 0

    def test_components_orthonormal_and_variance_ordered(self, emb, emb_np):
        _, X = emb_np
        mu, comps = pca_fit(emb, out_dim=8)
        np.testing.assert_allclose(comps @ comps.T, np.eye(8), atol=1e-9)
        proj_var = ((X - mu) @ comps.T).var(axis=0)
        assert all(proj_var[i] >= proj_var[i + 1] - 1e-12 for i in range(7))

    def test_fit_validates_args(self, emb):
        with pytest.raises(ValueError):
            pca_fit(emb, out_dim=0)
        with pytest.raises(ValueError):
            pca_fit(emb, out_dim=999)
        with pytest.raises(ValueError):
            pca_fit(emb.limit(1), out_dim=4)


class TestSearch:
    def test_recall_exact_at_fixture(self, emb):
        """The contract that lets the registry entry use the exact top-k
        oracle: over 20 probes the PCA pool always contains the true
        top-5, so the exact rerank returns the exact answer.  The
        fixture is near-isotropic (worst case for PCA — see module
        docstring), hence the 64->32 / oversample=40 calibration."""
        fitted = pca_fit(emb, out_dim=32)
        for probe in range(0, 100, 5):
            q = emb.filter(F.col("vec_id") == probe).select(
                F.col("embedding").alias("query_vec")
            )
            got = pca_knn(emb, q, k=5, oversample=40, payload_cols=["label"], fitted=fitted)
            want = knn(emb, q, k=5, metric="l2", payload_cols=["vec_id", "label"])
            assert [r["vec_id"] for r in got.collect()] == [
                r["vec_id"] for r in want.collect()
            ], f"probe {probe} diverged from exact KNN"

    def test_self_hit_first(self, emb):
        q = emb.filter(F.col("vec_id") == 7).select(
            F.col("embedding").alias("query_vec")
        )
        top = pca_knn(emb, q, k=1, payload_cols=["label"]).collect()
        assert top[0]["vec_id"] == 7
        assert top[0]["distance"] == 0.0

    def test_batch_matches_single(self, emb):
        fitted = pca_fit(emb, out_dim=32)
        queries = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        batch = pca_knn_join(
            emb, queries, k=3, oversample=40, payload_cols=["label"], fitted=fitted
        ).collect()
        exact = knn_join(
            emb, queries, k=3, payload_cols=["vec_id", "label"]
        ).collect()
        key = lambda r: (r["query_id"], r["rank"])
        assert sorted([(r["query_id"], r["rank"], r["vec_id"]) for r in batch]) == sorted(
            [(r["query_id"], r["rank"], r["vec_id"]) for r in exact]
        )

    def test_coarse_plan_zero_exchanges(self, emb):
        """The inline coarse+rerank chain keeps the flagship-KNN plan
        property: TakeOrderedAndProject, no shuffle exchange (the only
        exchange is the 1-row query broadcast)."""
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.plans.inspect import (
            count_exchanges,
            has_take_ordered,
        )

        fitted = pca_fit(emb, out_dim=8)
        q = emb.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("query_vec")
        )
        df = pca_knn(emb, q, k=5, fitted=fitted)
        assert count_exchanges(df) == 0
        assert has_take_ordered(df)


class TestIndex:
    def test_persisted_parity_and_artifact_shape(self, spark, emb, tmp_path):
        path = str(tmp_path / "pca_idx")
        fitted = pca_index_write(emb, path, out_dim=32, payload_cols=["label"])
        idx = spark.read.parquet(path)
        assert set(idx.columns) == {"vec_id", "label", "proj"}
        assert idx.count() == emb.count()
        assert len(idx.first()["proj"]) == 32

        qvec = emb.filter(F.col("vec_id") == 5).first()["embedding"]
        got = pca_index_search(
            spark, path, emb, qvec, fitted, k=5, oversample=40, payload_cols=["label"]
        ).collect()
        q = emb.filter(F.col("vec_id") == 5).select(
            F.col("embedding").alias("query_vec")
        )
        want = pca_knn(emb, q, k=5, oversample=40, payload_cols=["label"], fitted=fitted).collect()
        assert [(r["vec_id"], r["label"]) for r in got] == [
            (r["vec_id"], r["label"]) for r in want
        ]

    def test_rerank_filter_pushed(self, spark, emb, tmp_path):
        """The corpus re-read must carry the candidate In-filter down to
        the parquet scan (row-group pruning at scale)."""
        path = str(tmp_path / "pca_idx2")
        fitted = pca_index_write(emb, path, out_dim=32, payload_cols=["label"])
        qvec = emb.filter(F.col("vec_id") == 3).first()["embedding"]
        df = pca_index_search(spark, path, emb, qvec, fitted, k=5, payload_cols=["label"])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [In(vec_id" in plan
