"""Persisted IVF index: partition layout, static pruning, search parity.

The 100 TB IVF story rests on the index being *physically* partitioned
by centroid so a probe reads nprobe directories, not the corpus.  These
tests pin all three legs: the layout exists on disk, the search plan
prunes statically (PartitionFilters), and — the hard proof — unprobed
partitions are never opened (deleting them mid-query changes nothing).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
    assign_ivf,
    ivf_index_search,
    ivf_index_write,
    ivf_search,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.plans.inspect import (
    count_exchanges,
    has_take_ordered,
    partition_filters,
)

SF = "/root/testdata/sf0.001"
N_CENTROIDS = 16
PROBE_ID = 5


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    ivf_index_write(assign_ivf(emb, centroids), path)
    q = list(emb.filter(F.col("vec_id") == PROBE_ID).first()["embedding"])
    return emb, centroids, path, q


class TestIvfIndex:
    def test_layout_one_directory_per_list(self, index):
        import os

        _, _, path, _ = index
        # bulk build lands under the batch_id=0 maintenance level
        # (operators/index_maint.py), one directory per inverted list
        assert sorted(
            d for d in os.listdir(path) if d.startswith("batch_id=")
        ) == ["batch_id=0"]
        dirs = sorted(
            d
            for d in os.listdir(os.path.join(path, "batch_id=0"))
            if d.startswith("centroid_id=")
        )
        assert dirs, "index must be hive-partitioned by centroid_id"
        assert len(dirs) <= N_CENTROIDS

    def test_search_plan_prunes_statically(self, spark, index):
        _, centroids, path, q = index
        out = ivf_index_search(spark, path, centroids, q, k=5, nprobe=2)
        pf = [f for f in partition_filters(out) if "centroid_id" in f]
        assert pf, "probe filter must land in PartitionFilters, not a row filter"
        # in-bucket top-k keeps the flagship plan: heap, no shuffle
        assert has_take_ordered(out)
        assert count_exchanges(out) == 0

    def test_unprobed_partitions_never_opened(self, spark, index):
        import os

        _, centroids, path, q = index
        out = ivf_index_search(spark, path, centroids, q, k=5, nprobe=1)
        expected = [(r["vec_id"], round(r["distance"], 4)) for r in out.collect()]

        # Find the one probed directory, physically delete every other
        # partition, and re-run the *same plan*: with static pruning the
        # deleted files are never opened, so the query must succeed and
        # match.  (Without pruning, reading a deleted file fails the job.)
        out2 = ivf_index_search(spark, path, centroids, q, k=5, nprobe=1,
                                payload_cols=["vec_id", "centroid_id"])
        probed = {str(r["centroid_id"]) for r in out2.collect()}
        for b in os.listdir(path):
            if not b.startswith("batch_id="):
                continue
            for d in os.listdir(os.path.join(path, b)):
                if d.startswith("centroid_id=") and d.split("=", 1)[1] not in probed:
                    shutil.rmtree(os.path.join(path, b, d))
        again = ivf_index_search(spark, path, centroids, q, k=5, nprobe=1)
        got = [(r["vec_id"], round(r["distance"], 4)) for r in again.collect()]
        assert got == expected

    def test_matches_inmemory_ivf(self, spark, index):
        emb, centroids, path, q = index
        # rebuild: the pruning test above mutated the module-scoped index
        ivf_index_write(assign_ivf(emb, centroids), path)
        persisted = ivf_index_search(
            spark, path, centroids, q, k=5, nprobe=2,
            payload_cols=["vec_id", "label", "centroid_id"],
        )
        qdf = emb.filter(F.col("vec_id") == PROBE_ID).select(
            F.col("embedding").alias("query_vec")
        )
        inmem = ivf_search(
            assign_ivf(emb, centroids), centroids, qdf, k=5, nprobe=2,
            payload_cols=["vec_id", "label", "centroid_id"],
        )
        key = lambda r: (r["vec_id"], r["label"], r["centroid_id"], round(r["distance"], 4))  # noqa: E731
        assert [key(r) for r in persisted.collect()] == [key(r) for r in inmem.collect()]


class TestIvfIndexAppend:
    def test_append_only_touches_landed_partitions(self, spark, tmp_path):
        import os

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
            ivf_index_append,
        )
        from pyspark.sql import functions as F

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
        path = str(tmp_path / "index")
        base = emb.filter(F.col("vec_id") % 2 == 0)
        ivf_index_write(assign_ivf(base, centroids), path)
        root0 = os.path.join(path, "batch_id=0")
        files_before = {
            d: set(os.listdir(os.path.join(root0, d)))
            for d in os.listdir(root0) if d.startswith("centroid_id=")
        }

        batch = emb.filter(F.col("vec_id") % 2 == 1)
        ivf_index_append(batch, centroids, path)

        # every pre-existing file still present (append never rewrites
        # the bulk level — it owns its own batch_id directory)
        for d, files in files_before.items():
            assert files <= set(os.listdir(os.path.join(root0, d)))

        # the merged index answers searches over old+new identically to a
        # from-scratch build
        q = list(emb.filter(F.col("vec_id") == PROBE_ID).first()["embedding"])
        merged = ivf_index_search(spark, path, centroids, q, k=5, nprobe=2)
        scratch_path = str(tmp_path / "scratch")
        ivf_index_write(assign_ivf(emb, centroids), scratch_path)
        scratch = ivf_index_search(spark, scratch_path, centroids, q, k=5, nprobe=2)
        key = lambda r: (r["vec_id"], round(r["distance"], 4))  # noqa: E731
        assert [key(r) for r in merged.collect()] == [key(r) for r in scratch.collect()]


class TestIvfSearchJoin:
    """Batched IVF probe (r5)."""

    def test_exhaustive_probe_equals_exact_batch(self, spark):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
            ivf_search_join,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
            knn_join,
        )

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
        )
        queries = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        assigned = assign_ivf(emb, centroids)
        # probing every list == exact brute force
        ivf = ivf_search_join(
            assigned, centroids, queries, k=5, nprobe=N_CENTROIDS,
            payload_cols=["vec_id"],
        )
        exact = knn_join(emb, queries, k=5, payload_cols=["vec_id"])
        key = lambda r: (r["query_id"], r["rank"], r["vec_id"], round(r["distance"], 6))  # noqa: E731
        assert sorted(key(r) for r in ivf.collect()) == sorted(key(r) for r in exact.collect())

    def test_no_embedding_in_shuffles(self, spark):
        import re

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
            ivf_search_join,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.plans.inspect import (
            explain_str,
        )

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        centroids = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
        )
        queries = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        plan = explain_str(
            ivf_search_join(assign_ivf(emb, centroids), centroids, queries, k=5,
                            nprobe=2, payload_cols=["vec_id"]),
            "formatted",
        )
        for inputs in re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan):
            assert "embedding" not in inputs and "query_vec" not in inputs, inputs


class TestIvfIndexFilteredSearch:
    def test_filter_pushes_and_partitions_prune(self, spark, index):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.plans.inspect import (
            pushed_filters,
        )

        _, centroids, path, q = index
        out = ivf_index_search(
            spark, path, centroids, q, k=5, nprobe=2,
            pre_filter=(F.col("label") % 3 == 0),
        )
        assert [f for f in partition_filters(out) if "centroid_id" in f], (
            "probe must still prune partitions with a pre_filter present"
        )
        assert any("label" in f for f in pushed_filters(out)), (
            "metadata predicate must reach the scan as a pushed filter"
        )

    def test_filtered_results_satisfy_predicate_and_match_postfilter_knn(
        self, spark, index
    ):
        emb, centroids, path, q = index
        out = ivf_index_search(
            spark, path, centroids, q, k=5, nprobe=2,
            pre_filter=(F.col("label") % 3 == 0),
            payload_cols=["vec_id", "label"],
        ).collect()
        assert out and all(r["label"] % 3 == 0 for r in out)
        # pre-filter == post-filter on the same probed candidate pool
        # (predicate doesn't interact with distance ranking)
        wide = ivf_index_search(
            spark, path, centroids, q, k=10_000, nprobe=2,
            payload_cols=["vec_id", "label"],
        ).collect()
        expected = [r["vec_id"] for r in wide if r["label"] % 3 == 0][:5]
        assert [r["vec_id"] for r in out] == expected


class TestIvfIndexMaintenance:
    def test_stats_account_for_every_row(self, spark, index):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
            ivf_index_stats,
        )

        emb, _, path, _ = index
        rows = ivf_index_stats(spark, path).collect()
        assert sum(r["n_vectors"] for r in rows) == emb.count()
        assert abs(sum(r["frac"] for r in rows) - 1.0) < 0.01
        assert len(rows) <= N_CENTROIDS

    def test_rebuild_equals_fresh_build(self, spark, index, tmp_path):
        """Retrain+rebuild from index contents == building from the raw
        corpus with the same trainer: the sample is id-ordered, so the
        index's partition-scrambled row order must not matter."""
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
            ivf_index_rebuild,
            ivf_index_search,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.kmeans import (
            kmeans_fit_sampled,
        )

        emb, _, path, q = index
        dest = str(tmp_path / "rebuilt")
        new_cents = ivf_index_rebuild(spark, path, dest, k=8)

        fresh_cents = kmeans_fit_sampled(emb.select("vec_id", "label", "embedding"), k=8)
        fresh = str(tmp_path / "fresh")
        ivf_index_write(assign_ivf(emb, fresh_cents), fresh)

        got = ivf_index_search(
            spark, dest, new_cents, q, k=5, nprobe=2, payload_cols=["vec_id", "label"],
            centroid_vec_col="centroid_vec",
        ).collect()
        want = ivf_index_search(
            spark, fresh, fresh_cents, q, k=5, nprobe=2, payload_cols=["vec_id", "label"],
            centroid_vec_col="centroid_vec",
        ).collect()
        assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
        # row counts preserved; source index untouched
        assert spark.read.parquet(dest).count() == emb.count()
        assert spark.read.parquet(path).count() == emb.count()

    def test_rebuild_rejects_inplace(self, spark, index):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
            ivf_index_rebuild,
        )

        _, _, path, _ = index
        with pytest.raises(ValueError):
            ivf_index_rebuild(spark, path, path)
