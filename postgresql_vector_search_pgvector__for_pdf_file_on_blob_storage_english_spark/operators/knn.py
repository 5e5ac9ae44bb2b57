"""Exact K-nearest-neighbor top-k — the reference's flagship query.

Reference semantics (SSEOpenAIController.java:315-316):

    SELECT id, origntext, filename, pageNumber
    FROM DOCUMENT_SEARCH_VECTOR ORDER BY embedding <-> ?::vector LIMIT 5

i.e. **brute-force exact** L2 nearest neighbor (no ANN index exists in
the reference repo), k=5.  pgvector's seq-scan tiebreak on equal
distances is storage order — unportable — so this engine declares the
tiebreak ``(distance, id)``.

Spark-first physical design
---------------------------
* Single query: ``orderBy(distance, id).limit(k)`` plans as
  ``TakeOrderedAndProject`` — a per-partition top-k heap merged on the
  driver.  **No full sort, no shuffle of the corpus.**  This is the
  plan you want at 100 TB: each executor scans its parquet split,
  keeps k rows, and ships only k rows.
* Distance math is native higher-order functions (functions/vector.py).
  ``aggregate`` is a ``CodegenFallback`` expression, so the fold runs
  interpreted per row inside the scan stage (the rest of the stage is
  codegen); the embedding column never leaves that stage.
* A literal query travels as ONE literal: its JSON text parsed by
  ``from_json``, which Catalyst constant-folds into a single
  ``array<double>`` literal holding the same doubles as a per-element
  ``F.array(F.lit(v), ...)`` — one py4j call instead of one per
  dimension, and bit-identical distances.
* The scan is split per core: Spark sizes file splits from the corpus
  bytes and the default parallelism, so even a small corpus of a few
  files is scored by every core, each task keeping its own k-row heap.
* A query whose length differs from a corpus vector fails in the same
  scan with pgvector's "different vector dimensions" error, instead of
  silently scoring the shared prefix.
* Results are ordered ``(distance ASC NULLS LAST, id)``, as pgvector's
  ``ORDER BY ... ASC`` puts a null distance (a null vector) last.
* Batched queries (N query vectors, :func:`knn_join`): the query batch
  is collected once (under a row cap) into a matrix, and each Arrow
  batch of the corpus scan scores all queries with one NumPy GEMM in a
  ``mapInPandas``, keeping per query its k nearest rows plus any row
  tied with the k-th.  Only these narrow candidates (no embedding) cross
  the one exchange, to a per-query window that takes the global top-k.
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vector import DISTANCE_FNS


def _query_col(query_vec: Sequence[float] | Column) -> Column:
    if isinstance(query_vec, Column):
        return query_vec
    # json.dumps writes each float's shortest round-trip repr (and NaN /
    # Infinity, which Spark's JSON reader accepts), so the folded literal
    # holds exactly these doubles.
    return F.from_json(F.lit(json.dumps([float(v) for v in query_vec])), "array<double>")


def _dims_checked(vec: Column, dim: Column, value: Column) -> Column:
    """``value``, or pgvector's "different vector dimensions" error for a
    row whose ``vec`` length is not ``dim`` (a null vector passes)."""
    return F.when(
        F.size(vec) != dim,
        F.raise_error(F.format_string("different vector dimensions %d and %d", F.size(vec), dim)),
    ).otherwise(value)


def knn(
    corpus: DataFrame,
    query_vec: Sequence[float] | Column | DataFrame,
    k: int = 5,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] | None = None,
    distance_col: str = "distance",
) -> DataFrame:
    """Exact top-k nearest neighbors of one query vector.

    ``query_vec`` may be a Python sequence (inlined as a literal array),
    a Column, or a 1-row DataFrame whose single column is the vector
    (joined via broadcast — keeps everything set-at-a-time, no collect).
    """
    dist_fn = DISTANCE_FNS[metric]
    vec = F.col(vec_col)
    if isinstance(query_vec, DataFrame):
        qname = query_vec.columns[0]
        query = F.col(qname)
        scored = corpus.crossJoin(F.broadcast(query_vec)).withColumn(
            distance_col, _dims_checked(vec, F.size(query), dist_fn(vec, query))
        ).drop(qname)
    else:
        query = _query_col(query_vec)
        scored = corpus.withColumn(
            distance_col, _dims_checked(vec, F.size(query), dist_fn(vec, query))
        )
    cols = list(payload_cols) if payload_cols is not None else [c for c in corpus.columns if c != vec_col]
    if distance_col not in cols:
        cols.append(distance_col)
    # TakeOrderedAndProject: per-partition heap, k rows to the driver.
    return scored.select(*cols).orderBy(F.col(distance_col).asc_nulls_last(), id_col).limit(k)


# Bounded-query-batch contract.  knn_join and the batched graph walk
# collect the QUERY relation to a driver closure — the same data
# movement broadcasting it performs, valid only while the batch is
# genuinely small (serving batches: 10s-1000s of rows).  Collecting more
# than this many query rows raises instead of silently materializing an
# unbounded relation on the driver.  Override per session with the conf
# key (-1 disables the cap).
QUERY_BATCH_MAX_ROWS_CONF = "spark.sparkgraft.queryBatch.maxRows"
DEFAULT_QUERY_BATCH_MAX_ROWS = 100_000


def collect_query_batch(queries: DataFrame, cols: Sequence[str]) -> list:
    """Collect the query relation under the configured row cap — one
    ``limit(cap + 1)`` job (the limit bounds the transfer itself, not
    just a post-hoc check), raising when the cap is exceeded."""
    spark = queries.sparkSession
    cap = int(
        spark.conf.get(QUERY_BATCH_MAX_ROWS_CONF, str(DEFAULT_QUERY_BATCH_MAX_ROWS))
    )
    sel = queries.select(*cols)
    if cap < 0:
        return sel.collect()
    rows = sel.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"query batch exceeds {cap} rows; the GEMM/graph-walk paths "
            "collect queries to a driver closure, which is only "
            "broadcast-equivalent for bounded serving batches — split the "
            f"batch, or raise {QUERY_BATCH_MAX_ROWS_CONF} deliberately"
        )
    return rows


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "l2",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    payload_cols: Sequence[str] | None = None,
    distance_col: str = "distance",
) -> DataFrame:
    """Per-query exact top-k for a relation of query vectors: the
    generalization the reference only runs at N=1.

    The queries are collected once (:func:`collect_query_batch`) into a
    matrix.  Each Arrow batch of the corpus scan then computes its
    |batch| x |queries| distance matrix with one NumPy GEMM and keeps,
    per query, its k nearest rows plus every row tied with the k-th, so
    the window over the candidates applies the ``(distance, id)`` rule
    to all rows that could win.  A null vector gets a null distance and
    ranks last; a vector whose length differs from the queries' fails
    with pgvector's "different vector dimensions" error.

    BLAS summation order differs from the sequential fold of
    :func:`knn`, so distances agree with it to ~1e-12 relative: the
    winner set is the same unless two distinct candidates sit within
    that tolerance of each other.
    """
    import numpy as np

    if metric not in DISTANCE_FNS:
        raise ValueError(f"unsupported metric {metric!r}")

    qrows = collect_query_batch(queries, [query_id_col, query_vec_col])
    qids = np.array([r[query_id_col] for r in qrows])
    qmat = np.array([r[query_vec_col] for r in qrows], dtype=np.float64)  # (Q, d)
    if metric == "cosine" and len(qrows):
        qmat = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    qsq = (qmat * qmat).sum(axis=-1)  # (Q,)
    qidx = np.arange(len(qrows))

    cols = list(payload_cols) if payload_cols is not None else [
        c for c in corpus.columns if c != vec_col
    ]

    schema = T.StructType(
        [T.StructField(query_id_col, queries.schema[query_id_col].dataType)]
        + [corpus.schema[c] for c in cols]
        + [T.StructField(distance_col, T.DoubleType())]
    )

    def distances(cmat):
        if metric == "cosine":
            return 1.0 - (cmat / np.linalg.norm(cmat, axis=1, keepdims=True)) @ qmat.T
        if metric == "dot":
            return -(cmat @ qmat.T)
        sq = (cmat * cmat).sum(axis=1)[:, None] - 2.0 * (cmat @ qmat.T) + qsq[None, :]
        np.maximum(sq, 0.0, out=sq)
        return np.sqrt(sq) if metric == "l2" else sq

    def score(batches: Iterator) -> Iterator:
        for pdf in batches:
            if not len(pdf):
                continue
            scorable = pdf[vec_col].notna().to_numpy()
            dist = np.full((len(pdf), len(qrows)), np.nan)  # NaN -> null distance
            if scorable.any():
                dist[scorable] = distances(
                    np.array(list(pdf[vec_col][scorable]), dtype=np.float64)
                )
            kk = min(k, len(pdf))
            top = np.argpartition(dist, kk - 1, axis=0)[:kk]  # NaN sorts last
            take = dist <= dist[top[-1], qidx]  # ties with the k-th
            take[top, qidx] = True
            qi, ri = np.nonzero(take.T)
            out = pdf.iloc[ri][cols].reset_index(drop=True)
            out.insert(0, query_id_col, qids[qi])
            out[distance_col] = dist[ri, qi]
            yield out

    vec = F.col(vec_col)
    scan = corpus.select(
        _dims_checked(vec, F.lit(qmat.shape[-1]), vec).alias(vec_col),
        *[c for c in cols if c != vec_col],
    )
    if not len(qrows):
        scan = scan.limit(0)  # nothing to score
    candidates = scan.mapInPandas(score, schema)
    global_w = Window.partitionBy(query_id_col).orderBy(
        F.col(distance_col).asc_nulls_last(), id_col
    )
    return (
        candidates.withColumn("rank", F.row_number().over(global_w))
        .filter(F.col("rank") <= k)
    )
