"""KNN operators vs a NumPy brute-force reference on the fixture corpus."""

from __future__ import annotations

import numpy as np
import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.functions.vector import (
    l2_distance_sq,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators import knn as knn_module
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


def test_knn_includes_self_at_distance_zero(spark):
    # At dim 1536 the expanded form |c|² - 2c·q + |q|² leaves most stored
    # copies of a unit query ~1e-8 from it; pgvector's direct sum gives 0.
    rng = np.random.default_rng(13)
    mat = rng.standard_normal((300, 1536))
    mat = (mat / np.linalg.norm(mat, axis=1)[:, None]).astype(np.float32).tolist()
    df = spark.createDataFrame(list(enumerate(mat)), "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(list(enumerate(mat)), "query_id long, query_vec array<double>")
    hits = knn_join(df, queries, k=1, payload_cols=["vec_id"]).collect()
    assert sorted((r["query_id"], r["vec_id"], r["distance"]) for r in hits) == [
        (i, i, 0.0) for i in range(len(mat))
    ]
    got = knn(df, mat[0], k=1, payload_cols=["vec_id"]).first()
    assert (got["vec_id"], got["distance"]) == (0, 0.0)


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
    got = knn(df, q, k=len(ids), metric="l2sq", payload_cols=["vec_id"]).collect()
    ref = df.select("vec_id", l2_distance_sq("embedding", _per_element_literal(q)).alias("d")).collect()
    assert {r["vec_id"]: repr(r["distance"]) for r in got} == {r["vec_id"]: repr(r["d"]) for r in ref}


def test_literal_query_is_folded_to_one_literal(spark, emb):
    df, ids, mat = emb
    hits = knn(df, mat[ids == 0][0].tolist(), k=5, metric="l2sq", payload_cols=["vec_id"])
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


@pytest.mark.parametrize(
    "query, message",
    [
        ([1.0, float("nan")], "NaN not allowed in vector"),
        ([float("inf"), 0.0], "infinite value not allowed in vector"),
        ([1.0, float("-inf")], "infinite value not allowed in vector"),
        ([float("-inf"), float("nan")], "infinite value not allowed in vector"),
    ],
    ids=["nan", "inf", "-inf", "first-wins"],
)
@pytest.mark.parametrize("op", ["knn", "knn_join"])
def test_non_finite_query_component_raises(spark, op, query, message):
    # pgvector refuses such a vector with these words, on its first
    # non-finite component; no distance (NaN or null) may come back.
    corpus = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match=message):
        if op == "knn":
            knn(corpus, query, k=1, payload_cols=["vec_id"]).collect()
        else:
            queries = spark.createDataFrame([(0, query)], "query_id long, query_vec array<double>")
            knn_join(corpus, queries, k=1, payload_cols=["vec_id"]).collect()


def _corpus_with_null(spark):
    return spark.createDataFrame(
        [(0, None), (1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )


def test_knn_null_vector_ranks_last(spark):
    # pgvector's ORDER BY ... ASC puts a null distance last, not first
    corpus = _corpus_with_null(spark)
    got = knn(corpus, [1.0, 0.0], k=3, payload_cols=["vec_id"]).collect()
    assert [(r["vec_id"], r["distance"]) for r in got] == [(1, 0.0), (2, 2 ** 0.5), (0, None)]
    assert [r["vec_id"] for r in knn(corpus, [1.0, 0.0], k=2, payload_cols=["vec_id"]).collect()] == [1, 2]


def test_knn_join_null_vector_ranks_last(spark):
    corpus = _corpus_with_null(spark)
    queries = spark.createDataFrame([(7, [1.0, 0.0])], "query_id long, query_vec array<double>")

    def ranked(k):
        got = knn_join(corpus, queries, k=k, payload_cols=["vec_id"]).collect()
        return [(r["rank"], r["vec_id"], r["distance"]) for r in sorted(got, key=lambda r: r["rank"])]

    assert ranked(3) == [(1, 1, 0.0), (2, 2, 2 ** 0.5), (3, 0, None)]
    assert ranked(2) == [(1, 1, 0.0), (2, 2, 2 ** 0.5)]


@pytest.mark.parametrize("vec", [[1.0, 0.0, 5.0], [1.0]], ids=["longer", "shorter"])
def test_knn_join_corpus_dimension_mismatch_raises(spark, vec):
    corpus = spark.createDataFrame(
        [(0, [0.0, 1.0]), (1, vec)], "vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame([(0, [1.0, 0.0])], "query_id long, query_vec array<double>")
    with pytest.raises(SparkRuntimeException, match=f"different vector dimensions {len(vec)} and 2"):
        knn_join(corpus, queries, k=1, payload_cols=["vec_id"]).collect()


@pytest.mark.parametrize("layout", ["spread", "one_partition"])
@pytest.mark.parametrize("dim", [64, 1536])
def test_knn_join_ties_break_by_id(spark, dim, layout):
    # Each of 16 vectors is stored 4x under shuffled ids; every top-5
    # holds tied copies, which must come back in id order.  "spread"
    # puts one copy of each vector in each partition, "one_partition"
    # puts all copies in the same Arrow batch.
    rng = np.random.default_rng(dim)
    base = rng.normal(size=(16, dim)).astype(np.float32)
    ids = rng.permutation(64)
    rows = [(int(ids[c * 16 + v]), base[v].tolist()) for c in range(4) for v in range(16)]
    slices = spark.sparkContext.parallelize(rows, 1 if layout == "one_partition" else 4)
    corpus = spark.createDataFrame(slices, "vec_id long, embedding array<float>")
    qmat = base[np.arange(64) % 16] + rng.normal(scale=0.3, size=(64, dim))
    queries = spark.createDataFrame(
        [(i, qmat[i].tolist()) for i in range(64)], "query_id long, query_vec array<double>"
    )
    copies = {v: sorted(int(ids[c * 16 + v]) for c in range(4)) for v in range(16)}
    expect = {}
    for i in range(64):
        order = np.argsort(np.linalg.norm(base.astype(np.float64) - qmat[i], axis=1))
        expect[i] = [vid for v in order for vid in copies[v]][:5]
    got = {}
    for r in sorted(knn_join(corpus, queries, k=5, payload_cols=["vec_id"]).collect(),
                    key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(r["vec_id"])
    assert got == expect


def test_knn_join_matches_bruteforce(spark, emb):
    df, ids, mat = emb
    queries = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = knn_join(df, queries, k=3, payload_cols=["vec_id"]).collect()
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


def test_knn_join_payload_without_id_still_breaks_ties_by_id(spark):
    # ids 3 and 1 share a vector, so each top-2 holds a tie that only the
    # id order settles; each label names its row's id.
    corpus = spark.createDataFrame(
        [(3, "v3", [1.0, 0.0]), (1, "v1", [1.0, 0.0]), (2, "v2", [0.0, 1.0])],
        "vec_id long, label string, embedding array<float>",
    )
    qvecs = {0: [1.0, 0.0], 1: [0.0, 1.0]}
    queries = spark.createDataFrame(list(qvecs.items()), "query_id long, query_vec array<double>")
    got = knn_join(corpus, queries, k=2, payload_cols=["label"])
    assert got.columns == ["query_id", "label", "distance", "rank"]
    by_query = {}
    for r in sorted(got.collect(), key=lambda r: (r["query_id"], r["rank"])):
        by_query.setdefault(r["query_id"], []).append((r["label"], r["distance"]))
    for qid, q in qvecs.items():
        expect = knn(corpus, q, k=2, payload_cols=["vec_id"]).collect()
        assert by_query[qid] == [(f"v{r['vec_id']}", r["distance"]) for r in expect]


def test_knn_join_repeated_query_id_raises(spark):
    corpus = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>")
    queries = spark.createDataFrame(
        [(7, [1.0, 0.0]), (7, [0.0, 1.0])], "query_id long, query_vec array<double>"
    )
    with pytest.raises(ValueError, match="query_id 7 repeats"):
        knn_join(corpus, queries, k=1, payload_cols=["vec_id"])


class TestNumpyScalePath:
    """knn_join, the GEMM-batched path, must produce the same winner sets
    and ranks as the sequential-fold reference, one knn per query."""

    @pytest.mark.parametrize("metric", ["l2"])
    def test_parity_with_hof_path(self, spark, emb, metric):
        df, ids, mat = emb
        queries = df.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        got = knn_join(df, queries, k=4, payload_cols=["vec_id"])
        sa = sorted((r["query_id"], r["rank"], r["vec_id"]) for r in got.collect())
        sb = sorted(
            (qid, rank, r["vec_id"])
            for qid in range(5)
            for rank, r in enumerate(
                knn(df, queries.filter(F.col("query_id") == qid).select("query_vec"), k=4, metric=metric,
                    payload_cols=["vec_id"]).collect(),
                start=1,
            )
        )
        assert sa == sb

    def test_distances_within_tolerance(self, spark, emb):
        df, ids, mat = emb
        queries = df.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        got = knn_join(df, queries, k=3, payload_cols=["vec_id"]).collect()
        q = mat[ids == 0][0]
        for r in got:
            expect = float(np.linalg.norm(mat[ids == r["vec_id"]][0] - q))
            assert abs(r["distance"] - expect) < 1e-9


class TestQueryBatchCap:
    """VERDICT r8 #7: the bounded-query-batch docstring contract is an
    enforced cap (``QUERY_BATCH_MAX_ROWS``) — an oversized query
    relation raises instead of silently materializing on the driver."""

    def test_oversized_batch_raises(self, spark, emb, monkeypatch):
        df, _, _ = emb
        queries = df.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        monkeypatch.setattr(knn_module, "QUERY_BATCH_MAX_ROWS", 3)
        with pytest.raises(ValueError, match="query batch exceeds 3 rows"):
            knn_join(df, queries, k=2, payload_cols=["vec_id"])

    def test_cap_boundary_and_disable(self, spark, emb, monkeypatch):
        df, _, _ = emb
        queries = df.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        monkeypatch.setattr(knn_module, "QUERY_BATCH_MAX_ROWS", 5)  # exactly at the cap
        assert knn_join(df, queries, k=1, payload_cols=["vec_id"]).count() == 5

    def test_hnsw_batch_respects_cap(self, spark, emb, monkeypatch):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_build,
            hnsw_search_join,
        )

        df, _, _ = emb
        g = hnsw_build(df, n_shards=2, m=4, ef_construction=8)
        queries = df.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        monkeypatch.setattr(knn_module, "QUERY_BATCH_MAX_ROWS", 2)
        with pytest.raises(ValueError, match="query batch exceeds 2 rows"):
            hnsw_search_join(g, queries, k=2, ef_search=8)


# ---------------------------------------------------------------------------
# knn_join over a file-backed corpus: blocks decoded from the Parquet
# files and kept in the Python workers, no Spark scan of the corpus.


def _write_file_corpus(spark, path, ids, vecs, files):
    """write_corpus rows (vec_id, embedding, fileName) and read them back."""
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ingest import (
        write_corpus,
    )

    rows = [
        (int(i), None if v is None else [float(x) for x in v], f)
        for i, v, f in zip(ids, vecs, files)
    ]
    write_corpus(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>, fileName string"), str(path)
    )
    return spark.read.parquet(str(path))


def _query_frame(spark, qmat):
    return spark.createDataFrame(
        [(i, [float(x) for x in q]) for i, q in enumerate(qmat)], "query_id long, query_vec array<double>"
    )


def _plan(df):
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.plans.inspect import (
        explain_str,
    )

    return explain_str(df, "simple")


def _reads_files(df) -> bool:
    import re

    plan = _plan(df)
    return "FileScan" not in plan and re.search(r"MapInArrow .*\n\s*\+- Range ", plan) is not None


def _ranked(df):
    got = {}
    for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append(r["vec_id"])
    return got


def _brute_ranked(ids, mat, qmat, k):
    out = {}
    for qi, q in enumerate(qmat):
        d = np.linalg.norm(mat - q, axis=1)
        out[qi] = [int(ids[i]) for i in np.lexsort((ids, d))[:k]]
    return out


@pytest.fixture()
def mixture(spark, tmp_path):
    """240 vectors at dim 32 in 6 source files, and 12 queries near them."""
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(240, 32)).astype(np.float32)
    ids = rng.permutation(240)
    corpus = _write_file_corpus(spark, tmp_path / "corpus", ids, mat, [f"f{j % 6}.pdf" for j in range(240)])
    qmat = mat[rng.choice(240, 12)].astype(np.float64) + rng.normal(scale=0.1, size=(12, 32))
    return corpus, ids, mat.astype(np.float64), qmat


@pytest.mark.parametrize("metric", ["l2"])
def test_file_corpus_matches_bruteforce(spark, mixture, metric):
    corpus, ids, mat, qmat = mixture
    assert len(corpus.inputFiles()) > 1
    got = knn_join(corpus, _query_frame(spark, qmat), k=5, payload_cols=["vec_id"])
    assert _reads_files(got)
    assert _ranked(got) == _brute_ranked(ids, mat, qmat, 5)


def test_file_corpus_ties_break_by_id(spark, tmp_path):
    # 16 vectors stored 4x under shuffled ids, all in one file: every
    # top-5 holds tied copies, which must come back in id order.
    dim = 1536
    rng = np.random.default_rng(dim)
    base = rng.normal(size=(16, dim)).astype(np.float32)
    ids = rng.permutation(64)
    vecs = [base[v] for c in range(4) for v in range(16)]
    corpus = _write_file_corpus(spark, tmp_path / "corpus", ids, vecs, ["one.pdf"] * 64)
    assert len(corpus.inputFiles()) == 1
    qmat = base[np.arange(64) % 16] + rng.normal(scale=0.3, size=(64, dim))
    copies = {v: sorted(int(ids[c * 16 + v]) for c in range(4)) for v in range(16)}
    expect = {}
    for i in range(64):
        order = np.argsort(np.linalg.norm(base.astype(np.float64) - qmat[i], axis=1))
        expect[i] = [vid for v in order for vid in copies[v]][:5]
    got = knn_join(corpus, _query_frame(spark, qmat), k=5, payload_cols=["vec_id"])
    assert _reads_files(got)
    assert _ranked(got) == expect


def test_file_corpus_null_vector_ranks_last(spark, tmp_path):
    corpus = _write_file_corpus(
        spark, tmp_path / "corpus", [0, 1, 2], [None, [1.0, 0.0], [0.0, 1.0]], ["a.pdf"] * 3
    )
    queries = _query_frame(spark, [[1.0, 0.0]])

    def ranked(k):
        got = knn_join(corpus, queries, k=k, payload_cols=["vec_id"])
        assert _reads_files(got)
        return [(r["rank"], r["vec_id"], r["distance"]) for r in sorted(got.collect(), key=lambda r: r["rank"])]

    assert ranked(3) == [(1, 1, 0.0), (2, 2, 2 ** 0.5), (3, 0, None)]
    assert ranked(2) == [(1, 1, 0.0), (2, 2, 2 ** 0.5)]


@pytest.mark.parametrize("vec", [[1.0, 0.0, 5.0], [1.0]], ids=["longer", "shorter"])
def test_file_corpus_dimension_mismatch_raises(spark, tmp_path, vec):
    corpus = _write_file_corpus(
        spark, tmp_path / "corpus", [0, 1, 2], [[0.0, 1.0], vec, [1.0, 1.0]], ["a.pdf", "a.pdf", "b.pdf"]
    )
    got = knn_join(corpus, _query_frame(spark, [[1.0, 0.0]]), k=1, payload_cols=["vec_id"])
    assert _reads_files(got)
    with pytest.raises(SparkRuntimeException, match=f"different vector dimensions {len(vec)} and 2"):
        got.collect()


def test_file_corpus_sees_appended_file(spark, mixture, tmp_path):
    corpus, ids, mat, qmat = mixture
    queries = _query_frame(spark, qmat[:1])
    assert _ranked(knn_join(corpus, queries, k=1, payload_cols=["vec_id"]))[0] != [1000]
    _write_file_corpus(spark, tmp_path / "corpus", [1000], [qmat[0]], ["appended.pdf"])
    reread = spark.read.parquet(str(tmp_path / "corpus"))
    assert len(reread.inputFiles()) == len(corpus.inputFiles()) + 1
    assert _ranked(knn_join(reread, queries, k=1, payload_cols=["vec_id"]))[0] == [1000]


def test_file_rewritten_in_place_is_not_served_stale(spark, tmp_path):
    import shutil

    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
        _file_block,
        _parquet_files,
    )
    from pyspark.sql.pandas.types import to_arrow_schema

    rng = np.random.default_rng(3)
    old, new = rng.normal(size=(2, 8, 16)).astype(np.float32)
    path = tmp_path / "corpus"
    corpus = _write_file_corpus(spark, path, range(8), old, ["a.pdf"] * 8)
    (target,) = path.rglob("*.parquet")
    queries = _query_frame(spark, new[:1])
    for _ in range(2):  # the second call is answered from warm blocks
        assert _ranked(knn_join(corpus, queries, k=1, payload_cols=["vec_id"]))[0] != [100]
    # this process's own block cache, keyed as the scorer keys it
    schema = to_arrow_schema(corpus.select("embedding", "vec_id").schema)

    def cached_ids(df):
        (file,) = _parquet_files(df, ["vec_id", "embedding"])
        return sorted(_file_block(file, schema, "embedding", ["vec_id"])[0].column(0).to_pylist())

    assert cached_ids(corpus) == list(range(8))
    _write_file_corpus(spark, tmp_path / "other", range(100, 108), new, ["a.pdf"] * 8)
    (rewrite,) = (tmp_path / "other").rglob("*.parquet")
    shutil.copyfile(rewrite, target)
    (target.parent / f".{target.name}.crc").unlink()  # Hadoop's checksum of the old bytes
    reread = spark.read.parquet(str(path))
    assert reread.inputFiles() == corpus.inputFiles()
    assert cached_ids(reread) == list(range(100, 108))
    assert _ranked(knn_join(reread, queries, k=1, payload_cols=["vec_id"]))[0] == [100]


def test_file_blocks_are_keyed_by_their_columns(spark, mixture):
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
        _file_block,
        _parquet_files,
    )
    from pyspark.sql.pandas.types import to_arrow_schema

    corpus = mixture[0]
    file = _parquet_files(corpus, ["vec_id", "embedding"])[0]
    schema = to_arrow_schema(corpus.select("vec_id", "embedding").schema)
    narrow = _file_block(file, schema, "embedding", ["vec_id"])
    wide = _file_block(file, schema, "embedding", ["vec_id", "embedding"])
    assert (narrow[0].column_names, wide[0].column_names) == (["vec_id"], ["vec_id", "embedding"])


def _worker_block_uris(spark, clear=False):
    """The file URIs cached in the Python workers, after clearing each
    worker's cache when ``clear``.  Idle workers are handed out first in,
    first out, so a job with more one-row tasks than workers reaches
    every idle worker."""
    import pyarrow as pa

    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators import (
        knn as knn_mod,
    )

    def visit(batches):
        for _ in batches:
            if clear:
                knn_mod._BLOCKS.clear()
            uris = [key[0] for key in knn_mod._BLOCKS.blocks]
            yield pa.RecordBatch.from_pydict({"uri": pa.array(uris, pa.string())})

    return {r["uri"] for r in spark.range(0, 32, 1, 32).mapInArrow(visit, "uri string").collect()}


def test_cold_warm_and_cleared_cache_agree(spark, mixture):
    corpus, _, _, qmat = mixture
    queries = _query_frame(spark, qmat)

    def rows():
        got = knn_join(corpus, queries, k=5, payload_cols=["vec_id"])
        return sorted((r["query_id"], r["rank"], r["vec_id"], r["distance"]) for r in got.collect())

    files = set(corpus.inputFiles())
    assert not files & _worker_block_uris(spark)  # never read before
    cold = rows()
    assert files <= _worker_block_uris(spark)  # every file block is now cached
    warm = rows()
    assert not _worker_block_uris(spark, clear=True)
    assert not files & _worker_block_uris(spark)
    cleared = rows()
    assert cold == warm == cleared


def test_in_memory_and_filtered_corpus_take_the_scan(spark, mixture):
    corpus, ids, mat, qmat = mixture
    queries = _query_frame(spark, qmat)
    in_memory = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in zip(ids, mat.astype(np.float32))], "vec_id long, embedding array<float>"
    )
    keep = ids % 3 != 0
    filtered = corpus.filter(F.col("vec_id") % 3 != 0)
    for df, (sub_ids, sub_mat) in [(in_memory, (ids, mat)), (filtered, (ids[keep], mat[keep]))]:
        got = knn_join(df, queries, k=5, payload_cols=["vec_id"])
        plan = _plan(got)
        assert not _reads_files(got) and "MapInArrow" in plan and "Range" not in plan
        assert _ranked(got) == _brute_ranked(sub_ids, sub_mat, qmat, 5)
    assert "FileScan parquet" in _plan(knn_join(filtered, queries, k=5, payload_cols=["vec_id"]))


@pytest.mark.parametrize("source", ["files", "in_memory"])
def test_knn_join_empty_query_batch(spark, tmp_path, source):
    corpus = _write_file_corpus(spark, tmp_path / "corpus", [0, 1], [[1.0, 0.0], [0.0, 1.0]], ["a.pdf", "b.pdf"])
    if source == "in_memory":
        corpus = spark.createDataFrame(corpus.collect(), corpus.schema)
    queries = spark.createDataFrame([], "query_id long, query_vec array<double>")
    got = knn_join(corpus, queries, k=3, payload_cols=["fileName"])
    assert got.columns == ["query_id", "fileName", "distance", "rank"]
    assert got.collect() == []


def test_file_corpus_names_resolve_like_the_scan(spark, tmp_path):
    # the files hold vec_id/embedding; the read schema names them in
    # upper case, which Spark matches case-insensitively by default
    rng = np.random.default_rng(11)
    mat = rng.normal(size=(50, 8)).astype(np.float32)
    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(f"v{i}", v.tolist()) for i, v in enumerate(mat)], "vec_id string, embedding array<float>"
    ).write.parquet(path)
    qmat = rng.normal(size=(4, 8))
    queries = _query_frame(spark, qmat)

    def answers():
        corpus = spark.read.schema("VEC_ID string, EMBEDDING array<float>").parquet(path)
        cols = dict(vec_col="EMBEDDING", id_col="VEC_ID", payload_cols=["VEC_ID"])
        got = knn_join(corpus, queries, k=3, **cols)
        assert _reads_files(got)
        joined = {}
        for r in sorted(got.collect(), key=lambda r: (r["query_id"], r["rank"])):
            joined.setdefault(r["query_id"], []).append((r["VEC_ID"], r["distance"]))
        single = {
            qi: [(r["VEC_ID"], r["distance"]) for r in knn(corpus, q.tolist(), k=3, **cols).collect()]
            for qi, q in enumerate(qmat)
        }
        return joined, single

    joined, single = answers()
    ids = np.array([f"v{i}" for i in range(50)])
    for qi, q in enumerate(qmat):
        expect = list(ids[np.argsort(np.linalg.norm(mat.astype(np.float64) - q, axis=1))[:3]])
        assert [h[0] for h in joined[qi]] == [h[0] for h in single[qi]] == expect
        assert [h[1] for h in joined[qi]] == pytest.approx([h[1] for h in single[qi]], rel=1e-9)
    # case-sensitive, the scan reads both columns as nulls; so do the
    # file blocks, although the same files were just decoded
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        joined, single = answers()
    finally:
        spark.conf.unset("spark.sql.caseSensitive")
    assert joined == single == {qi: [(None, None)] * 3 for qi in range(4)}
    # this process's own block cache keeps the two resolutions apart
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.knn import (
        _file_block,
        _parquet_files,
    )
    from pyspark.sql.pandas.types import to_arrow_schema

    corpus = spark.read.schema("VEC_ID string, EMBEDDING array<float>").parquet(path)
    file = _parquet_files(corpus, ["VEC_ID", "EMBEDDING"])[0]
    schema = to_arrow_schema(corpus.schema)
    for case_sensitive, nulls in [(False, 0), (True, 1)]:
        payload = _file_block(file, schema, "EMBEDDING", ["VEC_ID"], case_sensitive)[0]
        assert payload.column("VEC_ID").null_count == nulls * payload.num_rows


def test_file_corpus_ambiguous_name_raises_like_the_scan(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = pa.array([[1.0, 0.0], [0.0, 1.0]], pa.list_(pa.float32()))
    (tmp_path / "corpus").mkdir()
    pq.write_table(
        pa.table({"vec_id": [0, 1], "VEC_ID": [2, 3], "embedding": vecs}),
        str(tmp_path / "corpus" / "part-0.parquet"),
    )
    corpus = spark.read.schema("vec_id long, embedding array<float>").parquet(str(tmp_path / "corpus"))
    with pytest.raises(Exception, match="(?i)duplicate field"):
        knn(corpus, [1.0, 0.0], k=1).collect()
    got = knn_join(corpus, _query_frame(spark, [[1.0, 0.0]]), k=1, payload_cols=["vec_id"])
    assert _reads_files(got)
    with pytest.raises(Exception, match="(?i)duplicate field"):
        got.collect()


def test_paper_search_shape(spark, tmp_path):
    # The reference's search (SSEOpenAIController.java:315-316) as the
    # benchmark calls it: a list query, id_col="id" and the reference's
    # payload, over a write_corpus corpus.  It runs knn_join's scorer:
    # no shuffle, and distances repr-equal to a one-query knn_join.
    import re

    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.ingest import (
        write_corpus,
    )
    from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.plans.inspect import (
        count_exchanges,
        pushed_filters,
    )

    rng = np.random.default_rng(5)
    mat = rng.normal(size=(60, 16)).astype(np.float32)
    schema = "id string, origntext string, fileName string, pageNumber int, embedding array<float>"
    rows = [(f"c{i:02d}", f"text {i}", f"f{i % 4}.pdf", i % 7 + 1, v.tolist()) for i, v in enumerate(mat)]
    write_corpus(spark.createDataFrame(rows, schema), str(tmp_path / "corpus"))
    stored = spark.read.parquet(str(tmp_path / "corpus"))
    in_memory = spark.createDataFrame(rows, schema).filter(F.col("pageNumber") != 2)
    payload = ["id", "origntext", "fileName", "pageNumber"]
    q = (mat[3] + rng.normal(scale=0.1, size=16)).tolist()
    queries = _query_frame(spark, [q])
    for corpus in (stored, stored.filter(F.col("pageNumber") != 2), in_memory):
        hits = knn(corpus, q, k=5, id_col="id", payload_cols=payload)
        plan = _plan(hits)
        assert count_exchanges(hits) == 0 and "TakeOrderedAndProject" in plan
        assert hits.columns == [*payload, "distance"]
        joined = knn_join(corpus, queries, k=5, id_col="id", payload_cols=payload).collect()
        assert [(r["id"], repr(r["distance"])) for r in hits.collect()] == [
            (r["id"], repr(r["distance"])) for r in sorted(joined, key=lambda r: r["rank"])
        ]
    files = _plan(knn(stored, q, k=5, id_col="id", payload_cols=payload))
    assert "FileScan" not in files and re.search(r"MapInArrow .*\n\s*\+- (\*\(\d+\) )?Range ", files)
    filtered = knn(stored.filter(F.col("pageNumber") != 2), q, k=5, id_col="id", payload_cols=payload)
    assert re.search(r"MapInArrow (.*\n)+.*FileScan parquet", _plan(filtered))
    assert any("Not(EqualTo(pageNumber,2))" in f for f in pushed_filters(filtered))
    scan = _plan(knn(in_memory, q, k=5, id_col="id", payload_cols=payload))
    assert re.search(r"MapInArrow .*\n\s*\+- .*Filter .*pageNumber", scan) and "Range" not in scan
