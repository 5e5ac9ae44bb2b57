# Auto-split from the monolithic queries.py (VERDICT r5 #9);
# registration side effects run at import, in package order.
from __future__ import annotations

from ._base import (  # noqa: F401
    DISTANCE_FNS,
    DataFrame,
    F,
    STATUS_VALUES,
    SparkSession,
    _DD_NORMALIZE,
    _dd_cosine_dist,
    _dd_dot,
    _dd_l2,
    _register,
    _t,
    dd_sql,
    knn,
    knn_join,
    normalize_whitespace_col,
)
from ..operators.serving import blob_url, build_prompt
from ..operators.status import completed_listing, failed_listing

# ==========================================================================
# Q2/Q3/Q4 — exact KNN top-k (flagship; SSEOpenAIController.java:315-316)
# ==========================================================================

def _knn_single(metric: str, probe_id: int, k: int = 5):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = _t(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") == probe_id).select(F.col("embedding").alias("query_vec"))
        out = knn(emb, q, k=k, metric=metric, payload_cols=["vec_id", "label"])
        return out.select("vec_id", "label", F.round("distance", 4).alias("distance"))

    return fn


_DD_KNN_SINGLE = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {probe_id})
SELECT e.vec_id, e.label, round({dist}, 4) AS distance
FROM embeddings e, q
ORDER BY {dist}, e.vec_id
LIMIT {k}
"""

_register(
    "q2_knn_l2_top5",
    _knn_single("l2", 0),
    dd_sql(_DD_KNN_SINGLE, probe_id=0, k=5, dist=_dd_l2("e.embedding", "q.qe")),
)
_register(
    "q3_knn_cosine_top5",
    _knn_single("cosine", 1),
    dd_sql(_DD_KNN_SINGLE, probe_id=1, k=5, dist=_dd_cosine_dist("e.embedding", "q.qe")),
)
_register(
    "q3_knn_dot_top5",
    _knn_single("dot", 2),
    dd_sql(_DD_KNN_SINGLE, probe_id=2, k=5, dist=f"(- {_dd_dot('e.embedding', 'q.qe')})"),
)


def _knn_sqlapi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship KNN through the pure SQL surface — ``spark.sql``
    over a registered view, distance spelled with SQL higher-order
    functions (``aggregate``/``zip_with``).  Same semantics, same
    oracle, same TakeOrderedAndProject physical plan as the DataFrame
    entry: proof the engine's vector search is reachable from plain SQL
    text, not only the Python API."""
    _t(spark, sf_dir, "embeddings").createOrReplaceTempView("v_embeddings")
    return spark.sql("""
        WITH q AS (SELECT embedding AS qe FROM v_embeddings WHERE vec_id = 0),
        scored AS (
          SELECT e.vec_id, e.label,
                 sqrt(aggregate(
                   zip_with(e.embedding, q.qe,
                            (a, b) -> power(cast(a AS double) - cast(b AS double), 2.0d)),
                   0.0d, (acc, v) -> acc + v)) AS d
          FROM v_embeddings e CROSS JOIN q
        )
        SELECT vec_id, label, round(d, 4) AS distance
        FROM scored ORDER BY d, vec_id LIMIT 5
    """)


_register(
    "q2_knn_l2_top5_sqlapi",
    _knn_sqlapi,
    dd_sql(_DD_KNN_SINGLE, probe_id=0, k=5, dist=_dd_l2("e.embedding", "q.qe")),
)


def _knn_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Q4: the reference drops the embedding (and the distance) from the
    # SELECT list; output is the bare top-k payload.
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 3).select(F.col("embedding").alias("query_vec"))
    return knn(emb, q, k=5, metric="l2", payload_cols=["vec_id", "label"]).select("vec_id", "label")


_register(
    "q4_knn_projection",
    _knn_projection,
    dd_sql("""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 3)
SELECT e.vec_id, e.label FROM embeddings e, q
ORDER BY {dist}, e.vec_id LIMIT 5
""", dist=_dd_l2("e.embedding", "q.qe")),
)


def _knn_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_join(emb, queries, k=3, payload_cols=["vec_id", "label"])
    return out.select(
        "query_id", "rank", "vec_id", "label", F.round("distance", 4).alias("distance")
    )


_DD_KNN_BATCH = dd_sql(
    """
SELECT q.vec_id AS query_id,
       row_number() OVER (PARTITION BY q.vec_id ORDER BY {dist}, e.vec_id) AS rank,
       e.vec_id, e.label, round({dist}, 4) AS distance
FROM embeddings e, (SELECT vec_id, embedding AS qe FROM embeddings WHERE vec_id < 8) q
QUALIFY rank <= 3
""",
    dist=_dd_l2("e.embedding", "q.qe"),
)

def _knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search — the pgvector idiom
    ``WHERE label = ... ORDER BY embedding <-> q LIMIT 5`` (metadata
    predicate + KNN).  The filter lands in the parquet scan
    (PushedFilters) BEFORE any distance math, so the heap only sees
    matching rows — predicate pushdown composes with the zero-shuffle
    TakeOrderedAndProject flagship shape."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 2).select(F.col("embedding").alias("query_vec"))
    out = knn(
        emb.filter(F.col("label") == 3), q, k=5, metric="l2",
        payload_cols=["vec_id", "label"],
    )
    return out.select("vec_id", "label", F.round("distance", 4).alias("distance"))


_register(
    "q2_knn_l2_filtered_top5",
    _knn_filtered,
    dd_sql("""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 2)
SELECT e.vec_id, e.label, round({dist}, 4) AS distance
FROM embeddings e, q
WHERE e.label = 3
ORDER BY {dist}, e.vec_id LIMIT 5
""", dist=_dd_l2("e.embedding", "q.qe")),
)


# 16-22 hits at sf0.001/0.01, 84 at sf0.1 — non-vacuous at every fixture
_RANGE_RADIUS = 1.25


def _knn_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) search — pgvector's ``WHERE embedding <-> q < r``:
    every vector within distance r, not a fixed k.  A pure filter over
    the scored scan: zero shuffles, no sort at all (the driver's compare
    is order-insensitive; consumers needing order add orderBy)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 2).select(F.col("embedding").alias("query_vec"))
    scored = emb.crossJoin(F.broadcast(q)).withColumn(
        "distance", DISTANCE_FNS["l2"](F.col("embedding"), F.col("query_vec"))
    )
    return (
        scored.filter(F.col("distance") < _RANGE_RADIUS)
        .select("vec_id", "label", F.round("distance", 4).alias("distance"))
    )


_register(
    "q2_knn_range_search",
    _knn_range,
    dd_sql("""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 2)
SELECT e.vec_id, e.label, round({dist}, 4) AS distance
FROM embeddings e, q
WHERE {dist} < {radius}
""", dist=_dd_l2("e.embedding", "q.qe"), radius=_RANGE_RADIUS),
)


_register("q2_knn_l2_topk_batch", _knn_batch, _DD_KNN_BATCH)


# ==========================================================================
# L1/L2 — status listings (PDF-Summarizer CosmosDBUtil.java:33,35)
# The status table is derived deterministically from `documents` on both
# sides (the driver provides no status fixture).
# ==========================================================================

_STATUS_ARRAY_SQL = "[" + ", ".join(f"'{s}'" for s in STATUS_VALUES) + "]"


def _derived_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    status = F.element_at(
        F.array(*[F.lit(s) for s in STATUS_VALUES]), ((F.col("doc_id") % 6) + 1).cast("int")
    )
    return docs.select(
        F.sha2(F.col("doc_id").cast("string"), 256).alias("id"),
        F.col("source").alias("fileName"),
        status.alias("status"),
        ((F.col("doc_id") % 40) + 1).cast("int").alias("pageNumber"),
    )


_DD_STATUS = f"""
SELECT sha256(doc_id::VARCHAR) AS id,
       source AS fileName,
       {_STATUS_ARRAY_SQL}[((doc_id % 6) + 1)::INT] AS status,
       ((doc_id % 40) + 1)::INT AS pageNumber
FROM documents
"""


def _l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return completed_listing(_derived_status(spark, sf_dir))


def _l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return failed_listing(_derived_status(spark, sf_dir))


_register(
    "l1_status_completed",
    _l1,
    f"SELECT * FROM ({_DD_STATUS}) WHERE status = 'COMPLETED' ORDER BY fileName, pageNumber",
)
_register(
    "l2_status_failed",
    _l2,
    f"SELECT * FROM ({_DD_STATUS}) WHERE status != 'COMPLETED' ORDER BY fileName, pageNumber",
)


# ==========================================================================
# P2/P3/P6 — normalization, chunking, deterministic chunk ids
# ==========================================================================

def _p2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", normalize_whitespace_col("text").alias("norm_text"))


_register(
    "p2_normalize_whitespace",
    _p2_normalize,
    f"SELECT doc_id, {dd_sql(_DD_NORMALIZE, col='text')} AS norm_text FROM documents",
)


def _p3_chunk_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixture docs are < 7500 chars: every doc yields exactly one chunk ==
    # its normalized text.  The real splitting logic is oracle-checked by
    # p3_chunk_long_stats below and unit-pinned in tests/test_chunker.py.
    # r14: native chunking (functions/text.py) — no Python eval node.
    from ..functions.text import chunk_exploded

    docs = _t(spark, sf_dir, "documents")
    return chunk_exploded(docs.select("doc_id", "text")).select("doc_id", "chunk_index", "chunk_text")


_register(
    "p3_chunk_rows",
    _p3_chunk_rows,
    f"SELECT doc_id, 0 AS chunk_index, {dd_sql(_DD_NORMALIZE, col='text')} AS chunk_text FROM documents",
)


def _p3_chunk_long_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exercise the >7500-char split path: inflate each doc 40x, chunk,
    and emit per-doc chunk statistics.

    Fixture text contains no punctuation, so every cut lands at the
    window start (index 7200 — see functions/text.py): chunk count and
    sizes are closed-form, which is exactly what the oracle asserts.
    """
    from ..functions.text import chunk_exploded

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.repeat(F.concat(F.col("text"), F.lit("\n")), 40).alias("_long")
    )
    # r14: native chunking; chunk_exploded normalizes internally
    chunks = chunk_exploded(docs, "_long").select("doc_id", "chunk_index", "chunk_text")
    return chunks.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.length("chunk_text")).cast("long").alias("total_chars"),
        F.max_by(F.length("chunk_text"), F.col("chunk_index")).cast("long").alias("last_chunk_chars"),
    )


_DD_P3_LONG = f"""
WITH norm AS (
  SELECT doc_id,
         length({dd_sql(_DD_NORMALIZE, col="repeat(text || chr(10), 40)")}) AS L
  FROM documents
)
SELECT doc_id,
       (CASE WHEN L <= 7500 THEN 1 ELSE ceil((L - 7500) / 7200.0)::BIGINT + 1 END) AS n_chunks,
       L::BIGINT AS total_chars,
       (L - 7200 * (CASE WHEN L <= 7500 THEN 1 ELSE ceil((L - 7500) / 7200.0)::BIGINT + 1 END - 1))::BIGINT
         AS last_chunk_chars
FROM norm
"""

_register("p3_chunk_long_stats", _p3_chunk_long_stats, _DD_P3_LONG)


def _p6_chunk_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import chunk_id

    docs = _t(spark, sf_dir, "documents")
    page = ((F.col("doc_id") % 40) + 1).cast("int")
    return docs.select(
        "doc_id",
        chunk_id(F.col("source"), page, F.lit(0)).alias("chunk_id"),
    )


_register(
    "p6_chunk_ids",
    _p6_chunk_ids,
    "SELECT doc_id, sha256(source || '§' || ((doc_id % 40) + 1)::INT || '§' || 0) AS chunk_id FROM documents",
)


# ==========================================================================
# Q5/Q7 — prompt construction + blob URL reconstruction
# ==========================================================================

_PROMPT_QUERY_TEXT = "vector search"


def _q5_prompt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reference builds the per-hit prompt from the KNN result's origntext
    # (SSEOpenAIController.java:151-155); here: top-5 for probe vec 0,
    # joined to `documents` for the text payload (vec_id == doc_id in the
    # fixtures' shared key space).
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("query_vec"))
    top = knn(emb, q, k=5, metric="l2", payload_cols=["vec_id"]).select("vec_id")
    joined = top.join(F.broadcast(docs), top.vec_id == docs.doc_id)
    return joined.select("vec_id", build_prompt("text", _PROMPT_QUERY_TEXT).alias("prompt"))


_register(
    "q5_prompt_construction",
    _q5_prompt,
    dd_sql("""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
top5 AS (
  SELECT e.vec_id FROM embeddings e, q
  ORDER BY {dist}, e.vec_id LIMIT 5
)
SELECT t.vec_id,
       '\"\"\" ' || d.text || ' \"\"\" ' || chr(10) || chr(10) ||
       'From the above document "{qt}" Please extract the part that describes.' AS prompt
FROM top5 t JOIN documents d ON t.vec_id = d.doc_id
""", dist=_dd_l2("e.embedding", "q.qe"), qt=_PROMPT_QUERY_TEXT),
)

_BLOB_ACCOUNT_URL = "https://account.blob.core.windows.net/pdfs/"


def _q7_blob_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    page = ((F.col("doc_id") % 40) + 1).cast("int")
    return docs.select("doc_id", blob_url(_BLOB_ACCOUNT_URL, "source", page).alias("url"))


_register(
    "q7_blob_url",
    _q7_blob_url,
    f"SELECT doc_id, '{_BLOB_ACCOUNT_URL}' || source || '#page=' || ((doc_id % 40) + 1)::INT AS url FROM documents",
)


# ==========================================================================
# S2-style scan filter (extension predicate pushed into the scan)
# ==========================================================================

def _scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.col("source").endswith("1")).select("doc_id", "source")


_register(
    "s2_scan_filter_endswith",
    _scan_filter,
    "SELECT doc_id, source FROM documents WHERE source LIKE '%1'",
)


# ==========================================================================
