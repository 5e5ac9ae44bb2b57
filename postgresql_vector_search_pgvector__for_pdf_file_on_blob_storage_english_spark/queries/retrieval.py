# Auto-split from the monolithic queries.py (VERDICT r5 #9);
# registration side effects run at import, in package order.
from __future__ import annotations

from ._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    Window,
    _DD_NORMALIZE,
    _dd_l2,
    _register,
    _t,
    dd_sql,
    knn,
    knn_join,
    normalize_whitespace_col,
)
# Full-text retrieval: BM25 and hybrid lexical+vector fusion.
# The reference searches by vector only (SSEOpenAIController.java:315-316);
# BM25 + RRF is the standard lexical complement a switching user expects.
# ==========================================================================

from ..operators.retrieval import bm25_topk, rrf_fuse, with_rank  # noqa: E402

_BM25_TERMS = ["spark", "vector", "join"]
_BM25_K1, _BM25_B = 1.2, 0.75

# Tokenization twin of the Spark side: normalize whitespace, split, lower.
_DD_TOKENS = f"""
tokens AS (
  SELECT doc_id, lower(w) AS term
  FROM (SELECT doc_id, {dd_sql(_DD_NORMALIZE, col="text")} AS norm FROM documents),
       unnest(string_split(trim(norm), ' ')) AS t(w)
  WHERE w != ''
)
"""

_DD_BM25_SCORED = f"""
WITH {_DD_TOKENS},
doc_len AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doc_len),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tokens
  WHERE term IN ({{terms}}) GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * tf * ({_BM25_K1} + 1.0)
           / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)) AS s
  FROM tf
  JOIN doc_len USING (doc_id)
  CROSS JOIN corpus
  JOIN dfreq USING (term)
),
bm25 AS (
  SELECT doc_id, sum(s) AS bm25 FROM scored GROUP BY doc_id
)
"""

_DD_TERMS_LIST = ", ".join(f"'{t}'" for t in sorted(_BM25_TERMS))


def _bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 over `documents` for a fixed 3-term query —
    all native expressions; df/corpus stats broadcast
    (operators/retrieval.py)."""
    out = bm25_topk(_t(spark, sf_dir, "documents"), _BM25_TERMS, k=10)
    return out.select("doc_id", F.round("bm25", 4).alias("bm25"))


_register(
    "bm25_topk_docs",
    _bm25_topk_docs,
    dd_sql(_DD_BM25_SCORED, terms=_DD_TERMS_LIST)
    + """
SELECT doc_id, round(bm25, 4) AS bm25 FROM bm25
ORDER BY bm25 DESC, doc_id LIMIT 10
""",
)


# Batched BM25 (r5): term sets chosen with nonzero df at every fixture.
_BM25_QUERIES = {
    0: ["spark", "vector", "join"],
    1: ["data", "query", "table"],
    2: ["stream", "batch"],
}


def _bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BM25 (operators/retrieval.py::bm25_topk_join): corpus
    stats computed once, shared by all queries through a broadcast
    (query_id, term) relation."""
    from ..operators.retrieval import bm25_topk_join

    out = bm25_topk_join(_t(spark, sf_dir, "documents"), _BM25_QUERIES, k=10)
    return out.select("query_id", "rank", "doc_id", F.round("bm25", 4).alias("bm25"))


_DD_BM25_QREL = ", ".join(
    f"({qid}, '{t}')"
    for qid, terms in sorted(_BM25_QUERIES.items())
    for t in sorted(set(terms))
)
_DD_BM25_ALL_TERMS = ", ".join(
    f"'{t}'" for t in sorted({t for ts in _BM25_QUERIES.values() for t in ts})
)

_DD_BM25_BATCH = dd_sql(
    """
WITH {tokens},
doc_len AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doc_len),
qrel(query_id, term) AS (VALUES {qrel}),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tokens
  WHERE term IN ({terms}) GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * tf * ({k1} + 1.0)
           / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)) AS s
  FROM tf
  JOIN doc_len USING (doc_id)
  CROSS JOIN corpus
  JOIN dfreq USING (term)
  JOIN qrel q USING (term)
),
bm AS (SELECT query_id, doc_id, sum(s) AS bm25 FROM scored GROUP BY query_id, doc_id)
SELECT query_id,
       row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank,
       doc_id, round(bm25, 4) AS bm25
FROM bm
QUALIFY rank <= 10
""",
    # NB: at this point in the module _DD_TOKENS is the tokens-CTE
    # fragment (the earlier token-stats SQL of the same name was
    # captured by its _register before this rebinding).
    tokens=_DD_TOKENS,
    qrel=_DD_BM25_QREL,
    terms=_DD_BM25_ALL_TERMS,
    k1=_BM25_K1,
    b=_BM25_B,
)

_register("bm25_topk_batch", _bm25_batch, _DD_BM25_BATCH)


def _eval_bm25_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-retrieval evaluation (the BM25 twin of ``eval_knn_mrr``):
    every ~97th document's own tokens (positions 2/4/6 of the
    normalized split) form its query, and the document itself is THE
    relevant result.  Fully relational (VERDICT r5 #2): the qrel is a
    DataFrame handed straight to ``bm25_topk_join`` — nothing scales
    with the corpus on the driver.  Misses count 0."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.trim(normalize_whitespace_col("text")), " ")
    sel = (
        docs.select("doc_id", words.alias("_w"))
        .filter((F.col("doc_id") % 97 == 3) & (F.size("_w") >= 6))
        .select(
            "doc_id",
            F.lower(F.col("_w")[1]).alias("t1"),
            F.lower(F.col("_w")[3]).alias("t2"),
            F.lower(F.col("_w")[5]).alias("t3"),
        )
    )
    qrel = sel.select(
        F.col("doc_id").alias("query_id"),
        F.explode(F.array("t1", "t2", "t3")).alias("term"),
    )
    from ..operators.retrieval import bm25_topk_join

    hits = bm25_topk_join(docs, qrel, k=10)
    found = hits.filter(F.col("doc_id") == F.col("query_id")).select("query_id", "rank")
    qdf = sel.select(F.col("doc_id").alias("query_id"))
    return qdf.join(found, "query_id", "left").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(F.col("rank").isNotNull().cast("long")).alias("n_found_top10"),
        F.round(F.avg(F.coalesce(1.0 / F.col("rank"), F.lit(0.0))), 4).alias("mrr"),
        F.round(
            F.avg(F.coalesce((F.col("rank") <= 5).cast("double"), F.lit(0.0))), 4
        ).alias("recall_at_5"),
    )


_DD_EVAL_BM25 = dd_sql(
    """
WITH {tokens},
doc_len AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doc_len),
sel AS (
  SELECT doc_id, string_split(trim(norm), ' ') AS words
  FROM (SELECT doc_id, {normtext} AS norm FROM documents)
  WHERE doc_id % 97 = 3 AND len(string_split(trim(norm), ' ')) >= 6
),
qrel AS (
  SELECT doc_id AS query_id, lower(words[2]) AS term FROM sel
  UNION SELECT doc_id, lower(words[4]) FROM sel
  UNION SELECT doc_id, lower(words[6]) FROM sel
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tokens
  WHERE term IN (SELECT term FROM qrel) GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * tf * ({k1} + 1.0)
           / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)) AS s
  FROM tf
  JOIN doc_len USING (doc_id)
  CROSS JOIN corpus
  JOIN dfreq USING (term)
  JOIN qrel q USING (term)
),
bm AS (SELECT query_id, doc_id, sum(s) AS bm25 FROM scored GROUP BY query_id, doc_id),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank
  FROM bm QUALIFY rank <= 10
),
found AS (SELECT query_id, rank FROM ranked WHERE doc_id = query_id)
SELECT count(*) AS n_queries,
       CAST(sum(CASE WHEN f.rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found_top10,
       round(avg(coalesce(1.0 / f.rank, 0.0)), 4) AS mrr,
       round(avg(CASE WHEN f.rank <= 5 THEN 1.0 ELSE 0.0 END), 4) AS recall_at_5
FROM sel LEFT JOIN found f ON sel.doc_id = f.query_id
""",
    tokens=_DD_TOKENS,
    normtext=dd_sql(_DD_NORMALIZE, col="text"),
    k1=_BM25_K1,
    b=_BM25_B,
)

_register("eval_bm25_mrr", _eval_bm25_mrr, _DD_EVAL_BM25)


_RRF_C = 60  # reciprocal-rank constant, shared by the hybrid entry below


def _eval_hybrid_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval evaluation — the capstone of the retrieval
    story: for every sampled document both a LEXICAL query (its own
    tokens, as in ``eval_bm25_mrr``) and a VECTOR query (its perturbed
    embedding, as in ``eval_knn_mrr``; doc_id == vec_id in the
    fixtures), the two top-10 lists fused by reciprocal rank
    (c={rrf_c}), and MRR / recall@5 of the document itself under the
    FUSED ranking.  Shows the engine can measure whether fusion
    actually helps before a deployment flips it on.""".format(rrf_c=_RRF_C)
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    words = F.split(F.trim(normalize_whitespace_col("text")), " ")
    sel = (
        docs.select("doc_id", words.alias("_w"))
        .filter((F.col("doc_id") % 97 == 3) & (F.size("_w") >= 6))
        .select(
            "doc_id",
            F.lower(F.col("_w")[1]).alias("t1"),
            F.lower(F.col("_w")[3]).alias("t2"),
            F.lower(F.col("_w")[5]).alias("t3"),
        )
    )
    qrel = sel.select(
        F.col("doc_id").alias("query_id"),
        F.explode(F.array("t1", "t2", "t3")).alias("term"),
    )
    from ..operators.retrieval import bm25_topk_join

    bm_hits = bm25_topk_join(docs, qrel, k=10).select(
        "query_id", "doc_id", F.col("rank").alias("_r_bm")
    )
    qvecs = (
        emb.join(
            sel.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.transform(
                F.col("embedding"), lambda x: (x.cast("double") * 1.01).cast("float")
            ).alias("query_vec"),
        )
    )
    knn_hits = knn_join(emb, qvecs, k=10, payload_cols=["vec_id"]).select(
        "query_id", F.col("vec_id").alias("doc_id"), F.col("rank").alias("_r_knn")
    )
    fused = (
        bm_hits.join(knn_hits, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "_rrf",
            F.coalesce(1.0 / (F.lit(_RRF_C) + F.col("_r_bm")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(_RRF_C) + F.col("_r_knn")), F.lit(0.0)),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_rrf").desc(), "doc_id")
    ranked = fused.withColumn("rank", F.row_number().over(w))
    found = ranked.filter(F.col("doc_id") == F.col("query_id")).select(
        "query_id", "rank"
    )
    qdf = sel.select(F.col("doc_id").alias("query_id"))
    return qdf.join(found, "query_id", "left").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(F.col("rank").isNotNull().cast("long")).alias("n_found"),
        F.round(F.avg(F.coalesce(1.0 / F.col("rank"), F.lit(0.0))), 4).alias("mrr"),
        F.round(
            F.avg(F.coalesce((F.col("rank") <= 5).cast("double"), F.lit(0.0))), 4
        ).alias("recall_at_5"),
    )


_DD_EVAL_HYBRID = dd_sql(
    """
WITH {tokens},
doc_len AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
corpus AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doc_len),
sel AS (
  SELECT doc_id, string_split(trim(norm), ' ') AS words
  FROM (SELECT doc_id, {normtext} AS norm FROM documents)
  WHERE doc_id % 97 = 3 AND len(string_split(trim(norm), ' ')) >= 6
),
qrel AS (
  SELECT doc_id AS query_id, lower(words[2]) AS term FROM sel
  UNION SELECT doc_id, lower(words[4]) FROM sel
  UNION SELECT doc_id, lower(words[6]) FROM sel
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tokens
  WHERE term IN (SELECT term FROM qrel) GROUP BY doc_id, term
),
dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
scored AS (
  SELECT q.query_id, tf.doc_id,
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * tf * ({k1} + 1.0)
           / (tf + {k1} * (1.0 - {b} + {b} * dl / avgdl)) AS s
  FROM tf
  JOIN doc_len USING (doc_id)
  CROSS JOIN corpus
  JOIN dfreq USING (term)
  JOIN qrel q USING (term)
),
bm AS (SELECT query_id, doc_id, sum(s) AS bm25 FROM scored GROUP BY query_id, doc_id),
bm_ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS r_bm
  FROM bm QUALIFY r_bm <= 10
),
qv AS (
  SELECT s.doc_id AS query_id,
         list_transform(e.embedding, x -> (x::DOUBLE * 1.01)::FLOAT) AS qvec
  FROM sel s JOIN embeddings e ON e.vec_id = s.doc_id
),
knn_ranked AS (
  SELECT q.query_id, e.vec_id AS doc_id,
         row_number() OVER (PARTITION BY q.query_id ORDER BY {dist}, e.vec_id) AS r_knn
  FROM embeddings e, qv q
  QUALIFY r_knn <= 10
),
fused AS (
  SELECT coalesce(a.query_id, b.query_id) AS query_id,
         coalesce(a.doc_id, b.doc_id) AS doc_id,
         coalesce(1.0 / ({c} + a.r_bm), 0.0)
           + coalesce(1.0 / ({c} + b.r_knn), 0.0) AS rrf
  FROM bm_ranked a
  FULL OUTER JOIN knn_ranked b ON a.query_id = b.query_id AND a.doc_id = b.doc_id
),
ranked AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rank
  FROM fused
),
found AS (SELECT query_id, rank FROM ranked WHERE doc_id = query_id)
SELECT count(*) AS n_queries,
       CAST(sum(CASE WHEN f.rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       round(avg(coalesce(1.0 / f.rank, 0.0)), 4) AS mrr,
       round(avg(CASE WHEN f.rank <= 5 THEN 1.0 ELSE 0.0 END), 4) AS recall_at_5
FROM sel LEFT JOIN found f ON sel.doc_id = f.query_id
""",
    tokens=_DD_TOKENS,
    normtext=dd_sql(_DD_NORMALIZE, col="text"),
    k1=_BM25_K1,
    b=_BM25_B,
    c=_RRF_C,
    dist=_dd_l2("e.embedding", "q.qvec"),
)

_register("eval_hybrid_rrf_mrr", _eval_hybrid_mrr, _DD_EVAL_HYBRID)


def _bm25_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same query/contract as ``bm25_topk_docs`` but served from a
    *persisted* inverted index (operators/retrieval.py::
    bm25_index_write): postings hive-partitioned by a stable md5 term
    bucket, probe buckets computed driver-side so the scan prunes
    statically (PartitionFilters) — the Lucene-shaped offline/online
    split the 100 TB lexical story needs.  Identical scoring math and
    tiebreak as the scan path, so same oracle by construction."""
    import hashlib
    import os
    import tempfile

    from ..operators.retrieval import bm25_index_search, bm25_index_write

    docs = _t(spark, sf_dir, "documents")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_bm25_index_{tag}")
    bm25_index_write(docs, path, n_buckets=32)
    out = bm25_index_search(spark, path, _BM25_TERMS, k=10, n_buckets=32)
    return out.select("doc_id", F.round("bm25", 4).alias("bm25"))


_register(
    "bm25_index_search",
    _bm25_index_search,
    dd_sql(_DD_BM25_SCORED, terms=_DD_TERMS_LIST)
    + """
SELECT doc_id, round(bm25, 4) AS bm25 FROM bm25
ORDER BY bm25 DESC, doc_id LIMIT 10
""",
)


def _bm25_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVING-path twin of ``bm25_index_search`` (VERDICT r8 #3): the
    term-bucket-partitioned postings are built once if absent, so the
    benched latency is the online half alone — driver-side bucket
    computation, statically pruned postings scan, score + top-k.  Same
    oracle as the build-inclusive entry."""
    import hashlib
    import os
    import tempfile

    from ..operators.retrieval import bm25_index_search, bm25_index_write

    docs = _t(spark, sf_dir, "documents")
    params = "buckets32_v1"
    tag = hashlib.md5(f"{sf_dir}|{params}".encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_bm25_probe_{tag}")
    # the bm25 artifact is three sub-tables; stats is written LAST, so
    # its _SUCCESS is the build-complete sentinel (the root has none)
    if not os.path.exists(os.path.join(path, "stats", "_SUCCESS")):
        bm25_index_write(docs, path, n_buckets=32)
    out = bm25_index_search(spark, path, _BM25_TERMS, k=10, n_buckets=32)
    return out.select("doc_id", F.round("bm25", 4).alias("bm25"))


_register(
    "bm25_probe",
    _bm25_probe,
    dd_sql(_DD_BM25_SCORED, terms=_DD_TERMS_LIST)
    + """
SELECT doc_id, round(bm25, 4) AS bm25 FROM bm25
ORDER BY bm25 DESC, doc_id LIMIT 10
""",
)


_HYBRID_POOL = 20  # per-list candidate depth before fusion


def _hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: exact-KNN top-20 (probe vec_id=0, L2) fused
    with BM25 top-20 by reciprocal rank, top-10 out.  doc_id and vec_id
    are the same key in the fixtures (TESTDATA.md: one embedding per
    document)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    knn_out = knn(emb, q, k=_HYBRID_POOL, metric="l2", payload_cols=["vec_id"])
    ranked_knn = with_rank(knn_out, [F.col("distance"), F.col("vec_id")]).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    bm25_out = bm25_topk(_t(spark, sf_dir, "documents"), _BM25_TERMS, k=_HYBRID_POOL)
    ranked_bm25 = with_rank(bm25_out, [F.col("bm25").desc(), F.col("doc_id")]).select(
        "doc_id", "rank"
    )
    fused = rrf_fuse(ranked_knn, ranked_bm25, k=10, c=_RRF_C)
    return fused.select("doc_id", F.round("rrf", 6).alias("rrf"))


_register(
    "hybrid_rrf_knn_bm25",
    _hybrid_rrf,
    dd_sql(_DD_BM25_SCORED, terms=_DD_TERMS_LIST)
    + f""",
knn_pool AS (
  SELECT e.vec_id AS doc_id, {_dd_l2("e.embedding", "q.qe")} AS dist
  FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
  ORDER BY dist, e.vec_id
  LIMIT {_HYBRID_POOL}
),
knn_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY dist, doc_id) AS rank FROM knn_pool
),
bm25_pool AS (
  SELECT doc_id, bm25 FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT {_HYBRID_POOL}
),
bm25_ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM bm25_pool
),
fused AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         coalesce(1.0 / ({_RRF_C} + a.rank), 0.0)
           + coalesce(1.0 / ({_RRF_C} + b.rank), 0.0) AS rrf
  FROM knn_ranked a FULL OUTER JOIN bm25_ranked b USING (doc_id)
)
SELECT doc_id, round(rrf, 6) AS rrf FROM fused
ORDER BY rrf DESC, doc_id LIMIT 10
""",
)


# ==========================================================================


# ==========================================================================
# MMR diversified rerank (round 8): the standard RAG redundancy/
# relevance trade-off over an exact cosine pool, in exact integer
# micro-units end to end (operators/retrieval.py::mmr_rerank).  The
# oracle unrolls the greedy chain: stage n picks argmax of
# lam_num*q_sim − (lam_den−lam_num)*max-sim-to-selected over the
# remaining pool, all BIGINT.
# ==========================================================================

_MMR_POOL, _MMR_K = 20, 5
_MMR_LNUM, _MMR_LDEN = 1, 2
_MMR_PROBE = 9


def _serve_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    q = list(emb.filter(F.col("vec_id") == _MMR_PROBE).first()["embedding"])
    return mmr_rerank(
        emb, q, k=_MMR_K, pool_size=_MMR_POOL,
        lam_num=_MMR_LNUM, lam_den=_MMR_LDEN,
    )


def _dd_cos_sim(a: str, b: str) -> str:
    from ._base import _dd_dot, _dd_norm

    return f"({_dd_dot(a, b)} / ({_dd_norm(a)} * {_dd_norm(b)}))"


def _dd_mmr() -> str:
    pen = _MMR_LDEN - _MMR_LNUM
    head = f"""
WITH q AS MATERIALIZED (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_MMR_PROBE}),
pool AS MATERIALIZED (
  SELECT e.vec_id, e.embedding,
         CAST(floor({_dd_cos_sim("e.embedding", "q.qe")} * 1000000.0 + 0.5) AS BIGINT) AS qsm
  FROM embeddings e, q
  QUALIFY row_number() OVER (ORDER BY qsm DESC, e.vec_id) <= {_MMR_POOL}
),
psim AS MATERIALIZED (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         CAST(floor({_dd_cos_sim("a.embedding", "b.embedding")} * 1000000.0 + 0.5) AS BIGINT) AS ps
  FROM pool a, pool b WHERE a.vec_id != b.vec_id
),
sel1 AS MATERIALIZED (
  SELECT vec_id, qsm, CAST(1 AS INT) AS rank,
         CAST({_MMR_LNUM} * qsm AS BIGINT) AS score
  FROM pool
  QUALIFY row_number() OVER (ORDER BY {_MMR_LNUM} * qsm DESC, vec_id) = 1
),
acc1 AS (SELECT vec_id, rank, qsm, score FROM sel1)"""
    stages = []
    for n in range(2, _MMR_K + 1):
        stages.append(f""",
cand{n} AS MATERIALIZED (
  SELECT p.vec_id, p.qsm,
         CAST({_MMR_LNUM} * p.qsm - {pen} * max(s.ps) AS BIGINT) AS score
  FROM pool p JOIN psim s ON s.ia = p.vec_id
                         AND s.ib IN (SELECT vec_id FROM acc{n - 1})
  WHERE p.vec_id NOT IN (SELECT vec_id FROM acc{n - 1})
  GROUP BY p.vec_id, p.qsm
),
sel{n} AS MATERIALIZED (
  SELECT vec_id, qsm, CAST({n} AS INT) AS rank, score FROM cand{n}
  QUALIFY row_number() OVER (ORDER BY score DESC, vec_id) = 1
),
acc{n} AS (SELECT * FROM acc{n - 1} UNION ALL SELECT vec_id, rank, qsm, score FROM sel{n})""")
    tail = f"""
SELECT rank, vec_id, qsm AS q_sim_micro, score AS mmr_score_micro
FROM acc{_MMR_K}
ORDER BY rank
"""
    return head + "".join(stages) + tail


_register("serve_mmr_rerank", _serve_mmr_rerank, _dd_mmr())


# ==========================================================================
# Pseudo-relevance feedback query expansion (round 11) — RM3-style
# two-pass retrieval (Lavrenko & Croft relevance models; the RM3
# interpolation simplified to deterministic term selection so the gate
# is exact): BM25 pass 1 -> take the top-5 feedback documents -> the
# top-3 expansion terms by frequency inside the feedback set
# (seed terms excluded, length >= 4 to skip function words, alphabetic
# tiebreak) -> BM25 pass 2 with seed + expansion terms.
#
# Scale shape: pass 1 is the gated bm25_topk (term-pushed tf, corpus
# stats broadcast, TakeOrdered top-k); the feedback set is k0=5 doc
# ids (bounded driver artifact), term counting runs over ONLY those
# docs via a pushed isin filter; the 3 expansion terms are another
# bounded collect; pass 2 is bm25_topk again with 6 terms.  Nothing
# anywhere scales past the corpus scan that BM25 itself costs.
# ==========================================================================

_PRF_K0, _PRF_M, _PRF_MINLEN = 5, 3, 4


def _retrieval_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import tokenize

    docs = _t(spark, sf_dir, "documents")
    fb_ids = [
        r["doc_id"]
        for r in bm25_topk(docs, _BM25_TERMS, k=_PRF_K0).select("doc_id").collect()
    ]
    exp = [
        r["term"]
        for r in (
            tokenize(docs.filter(F.col("doc_id").isin(fb_ids)))
            .filter(~F.col("term").isin([t.lower() for t in _BM25_TERMS]))
            .filter(F.length("term") >= _PRF_MINLEN)
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), "term")
            .limit(_PRF_M)
            .collect()
        )
    ]
    expanded = sorted(set(_BM25_TERMS) | set(exp))
    out = bm25_topk(docs, expanded, k=10)
    return out.select(
        "doc_id",
        F.round("bm25", 4).alias("bm25"),
        F.lit(",".join(sorted(exp))).alias("expansion"),
    )


_DD_PRF = (
    dd_sql(_DD_BM25_SCORED, terms=_DD_TERMS_LIST)
    + f""",
fb AS (
  SELECT doc_id FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT {_PRF_K0}
),
exp_terms AS (
  SELECT term FROM tokens JOIN fb USING (doc_id)
  WHERE term NOT IN ({_DD_TERMS_LIST}) AND length(term) >= {_PRF_MINLEN}
  GROUP BY term ORDER BY count(*) DESC, term LIMIT {_PRF_M}
),
qterms AS (
  SELECT term FROM exp_terms UNION SELECT unnest(ARRAY[{_DD_TERMS_LIST}])
),
tf2 AS (
  SELECT t.doc_id, t.term, count(*) AS tf FROM tokens t JOIN qterms q USING (term)
  GROUP BY t.doc_id, t.term
),
dfreq2 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf2 GROUP BY term),
scored2 AS (
  SELECT tf2.doc_id,
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * tf * ({_BM25_K1} + 1.0)
           / (tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)) AS s
  FROM tf2
  JOIN doc_len USING (doc_id)
  CROSS JOIN corpus
  JOIN dfreq2 USING (term)
),
bm25_2 AS (SELECT doc_id, sum(s) AS bm25 FROM scored2 GROUP BY doc_id),
exp_str AS (
  -- coalesce: with zero qualifying expansion terms string_agg yields
  -- NULL while the Spark side emits the literal '' — match the latter
  SELECT coalesce(string_agg(term, ',' ORDER BY term), '') AS expansion
  FROM exp_terms
)
SELECT doc_id, round(bm25, 4) AS bm25, expansion
FROM bm25_2, exp_str
ORDER BY bm25 DESC, doc_id LIMIT 10
"""
)

_register("retrieval_prf_expansion", _retrieval_prf, _DD_PRF)


# ==========================================================================
# Weighted min-max score fusion (round 11): the other standard hybrid
# baseline next to RRF — normalize each list's scores to [0, 1] over
# its own candidate pool (min-max), then a weighted sum (w=0.5 each).
# Unlike RRF it preserves score MAGNITUDE (a dominant lexical match
# outranks a pile of mediocre vector neighbors), which is why serving
# stacks ship both and A/B them.  Similarity for the vector list =
# negated L2 so "bigger is better" on both sides before normalizing.
# Every normalization runs over a k-row pool (TakeOrdered output) —
# bounded by construction, the same contract the RRF windows gate.
# ==========================================================================


def _hybrid_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    knn_pool = knn(emb, q, k=_HYBRID_POOL, metric="l2", payload_cols=["vec_id"]).select(
        F.col("vec_id").alias("doc_id"), (-F.col("distance")).alias("s")
    )
    bm_pool = bm25_topk(_t(spark, sf_dir, "documents"), _BM25_TERMS, k=_HYBRID_POOL).select(
        "doc_id", F.col("bm25").alias("s")
    )

    def norm(pool):
        # each pool is a k-row TakeOrdered output whose lineage is a
        # full KNN / BM25 pass; min-max needs the pool TWICE (extrema
        # + the normalize scan) and as plain branches each re-ran the
        # whole retrieval (24 parquet scans in the gated plan, r13
        # opt) — pin the k bounded rows
        pool = pool.localCheckpoint(eager=False)
        ext = pool.agg(F.min("s").alias("_lo"), F.max("s").alias("_hi"))
        return pool.crossJoin(F.broadcast(ext)).select(
            "doc_id",
            F.when(F.col("_hi") > F.col("_lo"),
                   (F.col("s") - F.col("_lo")) / (F.col("_hi") - F.col("_lo")))
            .otherwise(F.lit(1.0))
            .alias("ns"),
        )

    a = norm(knn_pool).withColumnRenamed("ns", "ns_knn")
    b = norm(bm_pool).withColumnRenamed("ns", "ns_bm25")
    fused = (
        a.join(b, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                0.5 * F.coalesce(F.col("ns_knn"), F.lit(0.0))
                + 0.5 * F.coalesce(F.col("ns_bm25"), F.lit(0.0))
            ).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )
    return fused.select("doc_id", F.round("score", 6).alias("score"))


_register(
    "hybrid_minmax_knn_bm25",
    _hybrid_minmax,
    dd_sql(_DD_BM25_SCORED, terms=_DD_TERMS_LIST)
    + f""",
knn_pool AS (
  SELECT e.vec_id AS doc_id, -{_dd_l2("e.embedding", "q.qe")} AS s
  FROM embeddings e, (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
  ORDER BY s DESC, e.vec_id
  LIMIT {_HYBRID_POOL}
),
bm25_pool AS (
  SELECT doc_id, bm25 AS s FROM bm25 ORDER BY s DESC, doc_id LIMIT {_HYBRID_POOL}
),
knn_n AS (
  SELECT doc_id, CASE WHEN max(s) OVER () > min(s) OVER ()
    THEN (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
    ELSE 1.0 END AS ns
  FROM knn_pool
),
bm25_n AS (
  SELECT doc_id, CASE WHEN max(s) OVER () > min(s) OVER ()
    THEN (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
    ELSE 1.0 END AS ns
  FROM bm25_pool
),
fused AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         0.5 * coalesce(a.ns, 0.0) + 0.5 * coalesce(b.ns, 0.0) AS score
  FROM knn_n a FULL OUTER JOIN bm25_n b USING (doc_id)
)
SELECT doc_id, round(score, 6) AS score FROM fused
ORDER BY score DESC, doc_id LIMIT 10
""",
)
