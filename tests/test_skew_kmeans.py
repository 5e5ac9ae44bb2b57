"""Skew mitigation (salted agg/join == unsalted results), bucketed
co-located joins (zero-exchange plan), and the k-means trainer."""

from __future__ import annotations

import numpy as np
import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.kmeans import (
    kmeans_fit,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.skew import (
    salted_agg,
    salted_broadcast_join,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.plans.inspect import (
    count_exchanges,
)
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


class TestSalting:
    def test_salted_agg_equals_plain(self, spark):
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        plain = {
            (r["l_returnflag"], r["l_linestatus"]): (r["n"], round(r["s"], 2), r["mn"], r["mx"])
            for r in li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("s"),
                 F.min("l_quantity").alias("mn"), F.max("l_quantity").alias("mx"))
            .collect()
        }
        salted = {
            (r["l_returnflag"], r["l_linestatus"]): (r["n"], round(r["s"], 2), r["mn"], r["mx"])
            for r in salted_agg(
                li, ["l_returnflag", "l_linestatus"],
                {"n": ("*", "count"), "s": ("l_quantity", "sum"),
                 "mn": ("l_quantity", "min"), "mx": ("l_quantity", "max")},
                salts=8,
            ).collect()
        }
        assert salted == plain

    def test_salted_join_equals_plain(self, spark):
        orders = spark.read.parquet(f"{SF}/orders.parquet").limit(2000)
        cust = spark.read.parquet(f"{SF}/customer.parquet").select(
            F.col("c_custkey").alias("o_custkey"), "c_name"
        )
        plain = sorted(
            (r["o_orderkey"], r["c_name"])
            for r in orders.join(cust, "o_custkey").select("o_orderkey", "c_name").collect()
        )
        salted = sorted(
            (r["o_orderkey"], r["c_name"])
            for r in salted_broadcast_join(orders, cust, "o_custkey", salts=4)
            .select("o_orderkey", "c_name")
            .collect()
        )
        assert salted == plain


class TestBucketedJoin:
    def test_bucketed_tables_join_without_exchange(self, spark, tmp_path):
        """Co-located joins: both sides bucketed+sorted on the key ->
        SortMergeJoin with no shuffle — the 100 TB fact-fact pattern."""
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            orders = spark.read.parquet(f"{SF}/orders.parquet")
            cust = spark.read.parquet(f"{SF}/customer.parquet")
            orders.write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
                "overwrite"
            ).saveAsTable("b_orders")
            cust.select(F.col("c_custkey").alias("o_custkey"), "c_acctbal").write.bucketBy(
                8, "o_custkey"
            ).sortBy("o_custkey").mode("overwrite").saveAsTable("b_cust")
            joined = spark.table("b_orders").join(spark.table("b_cust"), "o_custkey")
            assert count_exchanges(joined) == 0
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_cust")


class TestKMeans:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(f"{SF}/embeddings.parquet")

    def test_fit_shape_and_assignability(self, spark, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
            assign_ivf,
        )

        cents = kmeans_fit(emb, k=8, max_iters=3)
        rows = cents.collect()
        assert len(rows) == 8
        assert all(len(r["centroid_vec"]) == 64 for r in rows)
        assigned = assign_ivf(
            emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")),
            cents,
        )
        counts = assigned.groupBy("centroid_id").count().collect()
        assert sum(r["count"] for r in counts) == emb.count()

    def test_inertia_improves_over_init(self, spark, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.vector import (
            l2_distance_sq,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
            assign_ivf,
        )

        vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))

        def inertia(cents):
            a = assign_ivf(vecs, cents)
            return (
                a.join(F.broadcast(cents), "centroid_id")
                .select(l2_distance_sq("embedding", "centroid_vec").alias("d2"))
                .agg(F.sum("d2")).first()[0]
            )

        init = kmeans_fit(emb, k=8, max_iters=1)
        trained = kmeans_fit(emb, k=8, max_iters=5)
        assert inertia(trained) <= inertia(init) * 1.0000001

    def test_sampled_trainer_matches_distributed_assignments(self, spark, emb):
        """The FAISS-style sampled trainer (numpy Lloyd over a bounded
        sample) must induce the same cluster *assignments* as the
        distributed trainer when the sample covers the full input —
        centroid floats differ in summation order only."""
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ann import (
            assign_ivf,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.kmeans import (
            kmeans_fit_sampled,
        )

        vecs = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        dist_c = kmeans_fit(vecs, k=8, max_iters=3)
        samp_c = kmeans_fit_sampled(vecs, k=8, max_iters=3)
        a = {r["vec_id"]: r["centroid_id"] for r in assign_ivf(vecs, dist_c).collect()}
        b = {r["vec_id"]: r["centroid_id"] for r in assign_ivf(vecs, samp_c).collect()}
        assert a == b

    def test_sampled_trainer_deterministic_and_bounded(self, spark, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.kmeans import (
            kmeans_fit_sampled,
        )

        c1 = sorted(map(tuple, kmeans_fit_sampled(emb, k=4, max_iters=2).collect()))
        c2 = sorted(map(tuple, kmeans_fit_sampled(emb, k=4, max_iters=2).collect()))
        assert c1 == c2  # fixed sample -> bit-identical centroids
        with pytest.raises(ValueError, match="at least k"):
            kmeans_fit_sampled(emb, k=8, max_iters=1, train_limit=4)
