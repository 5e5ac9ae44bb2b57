"""Quantized vector search: int8 scalar quantization, binary (sign-bit)
quantization with Hamming pre-filter, and Matryoshka prefix-dim search —
the three standard "shrink the scan" scale paths for ANN over ~100 TB of
embeddings, each with an exact rerank so answer quality is bounded.

Reference parity: the reference's pgvector index (`SURVEY.md §2.3`, exact
`<->` scan in SSEOpenAIController.java:315-316) stores float4 vectors and
scans them in full.  At 100 TB the dominant cost is bytes scanned per
candidate; these operators cut that 4x (int8), 32x (sign bits), or
``dim/prefix_dim``x (Matryoshka) while keeping the final top-k exact over
the surviving candidate pool.

All three follow the same two-stage shape, entirely in native Spark
expressions (no Python in the hot path):

1. **Coarse stage** — a cheap per-row distance over the compressed form,
   ``TakeOrderedAndProject`` down to ``k * oversample`` candidates
   (partition-local heaps, zero exchange — the flagship-KNN property).
2. **Rerank stage** — exact double-precision distance over the surviving
   candidates only (a driver-sized list), final top-k.

The registry queries derive codes on the fly from the float column so the
DuckDB oracle can replay them; in a persisted deployment the encoded table
is written once (like the persisted IVF index, ``ann.py::ivf_index_write``)
and the coarse stage scans ONLY the code bytes — that is where the 4-32x
byte saving materializes.  Determinism: every arithmetic step is DOUBLE
with a fixed left-to-right fold and ``(distance, id)`` tiebreaks, so
Spark and DuckDB agree bit-for-bit (SURVEY §7 float-determinism rule).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_EPS = 1e-30  # zero-vector guard: scale floor, same literal in the oracles


def sq8_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    scale_col: str = "scale",
    code_col: str = "code",
) -> DataFrame:
    """Symmetric per-vector int8 quantization.

    ``scale = max(|x|)/127`` (floored at ``_EPS`` so zero vectors encode
    to zeros instead of NaN); ``code_i = floor(x_i/scale + 0.5)`` —
    round-half-up spelled as ``floor(+0.5)`` because Spark's ``round``
    (HALF_UP) and DuckDB's (HALF_EVEN) disagree on ties, while ``floor``
    is IEEE-identical in both.  Codes land in [-127, 127].
    """
    x = F.col(vec_col)
    scale = (
        F.greatest(
            F.aggregate(
                x, F.lit(0.0), lambda acc, v: F.greatest(acc, F.abs(v.cast("double")))
            ),
            F.lit(_EPS),
        )
        / F.lit(127.0)
    )
    out = df.withColumn(scale_col, scale)
    code = F.transform(
        x, lambda v: F.floor(v.cast("double") / F.col(scale_col) + F.lit(0.5))
    )
    return out.withColumn(code_col, code)


def _approx_then_exact(
    scored: DataFrame,
    approx_col: str,
    vec_col: str,
    query_col: str,
    id_col: str,
    k: int,
    oversample: int,
    payload_cols: Sequence[str],
) -> DataFrame:
    """Shared two-stage tail: coarse top-(k*oversample) by the approx
    distance, exact L2 rerank, final top-k.  Both stages are
    ``ORDER BY ... LIMIT`` → TakeOrderedAndProject, zero exchanges."""
    pool = scored.orderBy(F.col(approx_col).asc(), F.col(id_col).asc()).limit(
        k * oversample
    )
    exact = pool.withColumn(
        "distance",
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.col(query_col),
                    lambda a, b: F.pow(a.cast("double") - b.cast("double"), F.lit(2.0)),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
    )
    cols = [id_col, *payload_cols, "distance"]
    return exact.orderBy(F.col("distance").asc(), F.col(id_col).asc()).limit(k).select(*cols)


def sq8_knn(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    oversample: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
) -> DataFrame:
    """Asymmetric int8 search (ADC-style): the corpus is int8-coded, the
    query stays full precision; coarse distance is
    ``sum((code_i*scale - q_i)^2)`` — one multiply per dim over bytes
    instead of floats.  ``query_df`` must be a 1-row relation with a
    ``query_vec`` column (crossJoin-broadcast, like ``knn.py``)."""
    enc = sq8_encode(df, vec_col=vec_col)
    scored = enc.crossJoin(F.broadcast(query_df)).withColumn(
        "adist",
        F.aggregate(
            F.zip_with(
                F.col("code"),
                F.col("query_vec"),
                lambda c, q: F.pow(
                    c.cast("double") * F.col("scale") - q.cast("double"), F.lit(2.0)
                ),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return _approx_then_exact(
        scored, "adist", vec_col, "query_vec", id_col, k, oversample, payload_cols
    )


def _approx_then_exact_join(
    corpus: DataFrame,
    queries: DataFrame,
    scored: DataFrame,
    coarse_col: str,
    k: int,
    oversample: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    payload_cols: Sequence[str] = (),
    distance_col: str = "distance",
) -> DataFrame:
    """Shared batched coarse->exact tail (the quantized twin of
    ``knn_join``'s shape), used by every ``*_knn_join`` variant:

    1. narrow the coarse-scored relation to ``(query_id, id, coarse)``
       BEFORE the per-query window — the only corpus-sized exchange
       carries ~24-byte rows, never codes/words/embeddings;
    2. pool cut ``row_number() <= k*oversample`` per query (candidate
       list is |Q|*k*oversample rows — driver-sized);
    3. exact rerank: candidates BROADCAST back onto the corpus (map-side
       join, corpus never shuffles), full-precision L2, final per-query
       top-k with the (distance, id) tiebreak.

    ``query_id`` keys both windows and the query re-attach, so a
    repeated id raises, as in ``knn_join``, rather than merging two
    queries: the re-attached query relation counts its rows per id.
    """
    narrow = scored.select(query_id_col, id_col, coarse_col)
    coarse_w = Window.partitionBy(query_id_col).orderBy(
        F.col(coarse_col).asc(), F.col(id_col).asc()
    )
    pool = (
        narrow.withColumn("crank", F.row_number().over(coarse_w))
        .filter(F.col("crank") <= k * oversample)
        .select(query_id_col, id_col)
    )
    per_id = queries.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("_n"))
    repeated = F.raise_error(
        F.format_string(f"query ids must be unique: {query_id_col} %s repeats", F.col(query_id_col))
    )
    checked = (
        queries.join(F.broadcast(per_id), query_id_col)
        .withColumn(query_vec_col, F.when(F.col("_n") > 1, repeated).otherwise(F.col(query_vec_col)))
        .drop("_n")
    )
    cand = corpus.join(F.broadcast(pool), id_col).join(
        F.broadcast(checked), query_id_col
    )
    exact = cand.withColumn(
        distance_col,
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.col(query_vec_col),
                    lambda a, b: F.pow(a.cast("double") - b.cast("double"), F.lit(2.0)),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ),
    )
    exact_narrow = exact.select(query_id_col, id_col, *payload_cols, distance_col)
    final_w = Window.partitionBy(query_id_col).orderBy(
        F.col(distance_col).asc(), F.col(id_col).asc()
    )
    return (
        exact_narrow.withColumn("rank", F.row_number().over(final_w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, *payload_cols, distance_col)
    )


def sq8_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    oversample: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    payload_cols: Sequence[str] = (),
    distance_col: str = "distance",
) -> DataFrame:
    """Batched int8 search: N query vectors against the coded corpus —
    the quantized twin of ``knn.py::knn_join`` (VERDICT r4 item 4).  At
    100 TB query batching is how the scan cost amortizes: ONE pass over
    the codes scores every query.

    Physical shape (the part that must survive a 100x scale-up):

    1. **Coarse** — codes x broadcast(queries), int8 ADC distance, then
       the projection narrows to ``(query_id, id, adist)`` BEFORE the
       per-query window: the only exchange carries ~24-byte candidate
       rows, never a code array or an embedding.
    2. **Pool cut** — ``row_number() <= k*oversample`` per query: the
       candidate list is |Q| * k * oversample rows (driver-sized).
    3. **Exact rerank** — the candidate list is BROADCAST back onto the
       corpus (map-side hash join, no corpus shuffle), full-precision L2
       against the re-attached query vectors, final per-query top-k.

    Same determinism contract as the single-query path: DOUBLE math,
    fixed fold order, ``(distance, id)`` tiebreaks.
    """
    enc = sq8_encode(corpus, vec_col=vec_col)
    scored = enc.crossJoin(F.broadcast(queries)).withColumn(
        "adist",
        F.aggregate(
            F.zip_with(
                F.col("code"),
                F.col(query_vec_col),
                lambda c, q: F.pow(
                    c.cast("double") * F.col("scale") - q.cast("double"), F.lit(2.0)
                ),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return _approx_then_exact_join(
        corpus, queries, scored, "adist", k, oversample,
        vec_col=vec_col, id_col=id_col, query_id_col=query_id_col,
        query_vec_col=query_vec_col, payload_cols=payload_cols,
        distance_col=distance_col,
    )


def binary_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    words_col: str = "bwords",
    word_bits: int = 16,
) -> DataFrame:
    """Sign-bit quantization packed into ``word_bits``-bit integer words
    (16 by default: values < 65536 are overflow-safe in every engine's
    int type, and DuckDB replays the packing with the identical
    range/CASE expression).  dim must be a multiple of ``word_bits`` —
    enforced per row with ``assert_true`` (ADVICE r4: flooring the word
    count would silently drop trailing dimensions, e.g. a 60-dim corpus
    quietly searching on 48 dims)."""
    x = F.col(vec_col)
    # 2^i via pow (exact for i < word_bits <= 62); F.shiftleft only takes a
    # literal shift amount, not a lambda-bound Column.
    word = lambda off: F.aggregate(  # noqa: E731
        F.transform(
            F.sequence(F.lit(0), F.lit(word_bits - 1)),
            lambda i: F.when(
                F.element_at(x, (off + i + F.lit(1)).cast("int")) >= 0,
                F.pow(F.lit(2.0), i).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    n_words = (F.size(x) / F.lit(word_bits)).cast("int") - F.lit(1)
    words = F.transform(F.sequence(F.lit(0), n_words), lambda j: word(j * word_bits))
    # The guard lives INSIDE the projected expression (a pruned side
    # column would be optimized away): assert_true yields NULL on pass,
    # so the when() always takes the words branch — or throws.
    guard = F.assert_true(
        F.size(x) % F.lit(word_bits) == 0,
        F.concat(
            F.lit(f"binary_encode: size({vec_col})="),
            F.size(x).cast("string"),
            F.lit(f" is not a multiple of word_bits={word_bits}"),
        ),
    )
    return df.withColumn(words_col, F.when(guard.isNull(), words))


def hamming_knn(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    oversample: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
    word_bits: int = 16,
) -> DataFrame:
    """Binary-quantized search: both sides sign-bit-packed, coarse
    distance is the Hamming distance ``sum(bit_count(xor(word pairs)))``
    — 32x fewer bytes than float32 and XOR+popcount per word — then
    exact L2 rerank of the candidate pool."""
    enc = binary_encode(df, vec_col=vec_col, word_bits=word_bits)
    qenc = binary_encode(
        query_df, vec_col="query_vec", words_col="qwords", word_bits=word_bits
    )
    scored = enc.crossJoin(F.broadcast(qenc)).withColumn(
        "hamming",
        F.aggregate(
            F.zip_with(
                F.col("bwords"),
                F.col("qwords"),
                lambda a, b: F.bit_count(a.bitwiseXOR(b)),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double"),
    )
    return _approx_then_exact(
        scored, "hamming", vec_col, "query_vec", id_col, k, oversample, payload_cols
    )


def matryoshka_knn(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 5,
    prefix_dim: int = 16,
    oversample: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
) -> DataFrame:
    """Matryoshka (prefix-dimension) search: coarse L2 over the first
    ``prefix_dim`` components only — for MRL-trained embeddings the
    prefix is a valid low-rank view, so the coarse scan reads
    ``prefix_dim/dim`` of the bytes — then exact full-dim rerank."""
    scored = df.crossJoin(F.broadcast(query_df)).withColumn(
        "pdist",
        F.aggregate(
            F.zip_with(
                F.slice(F.col(vec_col), 1, prefix_dim),
                F.slice(F.col("query_vec"), 1, prefix_dim),
                lambda a, b: F.pow(a.cast("double") - b.cast("double"), F.lit(2.0)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return _approx_then_exact(
        scored, "pdist", vec_col, "query_vec", id_col, k, oversample, payload_cols
    )


def hamming_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    oversample: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    payload_cols: Sequence[str] = (),
    word_bits: int = 16,
) -> DataFrame:
    """Batched binary-quantized search: the corpus is sign-bit packed
    ONCE, every query's Hamming distance is XOR+popcount against the
    same words — one 32x-smaller pass amortized over all N queries,
    then the shared broadcast-rerank tail (``_approx_then_exact_join``)."""
    enc = binary_encode(corpus, vec_col=vec_col, word_bits=word_bits)
    qenc = binary_encode(
        queries, vec_col=query_vec_col, words_col="qwords", word_bits=word_bits
    )
    scored = enc.crossJoin(F.broadcast(qenc)).withColumn(
        "hamming",
        F.aggregate(
            F.zip_with(
                F.col("bwords"),
                F.col("qwords"),
                lambda a, b: F.bit_count(a.bitwiseXOR(b)),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        ).cast("double"),
    )
    return _approx_then_exact_join(
        corpus, queries, scored, "hamming", k, oversample,
        vec_col=vec_col, id_col=id_col, query_id_col=query_id_col,
        query_vec_col=query_vec_col, payload_cols=payload_cols,
    )


def matryoshka_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    prefix_dim: int = 16,
    oversample: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    payload_cols: Sequence[str] = (),
) -> DataFrame:
    """Batched Matryoshka search: coarse prefix-dim L2 for every query
    in one corpus pass (reading ``prefix_dim/dim`` of the bytes), then
    the shared broadcast-rerank tail."""
    scored = corpus.crossJoin(F.broadcast(queries)).withColumn(
        "pdist",
        F.aggregate(
            F.zip_with(
                F.slice(F.col(vec_col), 1, prefix_dim),
                F.slice(F.col(query_vec_col), 1, prefix_dim),
                lambda a, b: F.pow(a.cast("double") - b.cast("double"), F.lit(2.0)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    return _approx_then_exact_join(
        corpus, queries, scored, "pdist", k, oversample,
        vec_col=vec_col, id_col=id_col, query_id_col=query_id_col,
        query_vec_col=query_vec_col, payload_cols=payload_cols,
    )


def sq8_index_write(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
) -> None:
    """Encode once and persist ONLY ``(id, payload, scale, code)`` — the
    table the coarse stage scans.  The float corpus is NOT duplicated
    here: at 100 TB the codes table is ~4x smaller than the corpus (int8
    vs float32 per dim), and a coarse pass touches it alone.  Mirrors
    the persisted-IVF layout contract (``ann.py::ivf_index_write``)."""
    enc = sq8_encode(df, vec_col=vec_col)
    cols = [id_col, *payload_cols, "scale", "code"]
    enc.select(*cols).write.mode("overwrite").parquet(path)


def sq8_index_search(
    spark,
    path: str,
    corpus_df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    oversample: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
) -> DataFrame:
    """Two-scan search over a persisted SQ8 index.

    1. Coarse: scan the codes table only (no float vectors in it at
       all), asymmetric distance against the literal query, TakeOrdered
       down to ``k * oversample`` ids.  This is the 4x-cheaper scan.
    2. Rerank: re-read ONLY the candidate rows from the full corpus via
       a literal ``isin`` — parquet row-group min/max stats prune
       non-matching groups, so the corpus re-read is candidate-bounded,
       not a second full scan.  Exact double L2, final top-k.

    The mid-plan ``collect()`` is bounded at ``k * oversample`` rows
    (50 by default) — the same documented driver-sized materialization
    the IVF probe uses (``ann.py::ivf_index_search``).
    """
    qarr = F.array(*[F.lit(float(v)) for v in query_vec])
    codes = spark.read.parquet(path).withColumn("qv", qarr)
    scored = codes.withColumn(
        "adist",
        F.aggregate(
            F.zip_with(
                F.col("code"),
                F.col("qv"),
                lambda c, q: F.pow(c.cast("double") * F.col("scale") - q, F.lit(2.0)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    pool = (
        scored.orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(k * oversample)
        .select(id_col)
        .collect()
    )
    cand_ids = [r[id_col] for r in pool]
    exact = (
        corpus_df.filter(F.col(id_col).isin(cand_ids))
        .withColumn("qv", qarr)
        .withColumn(
            "distance",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        F.col("qv"),
                        lambda a, b: F.pow(a.cast("double") - b, F.lit(2.0)),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
        )
    )
    cols = [id_col, *payload_cols, "distance"]
    return (
        exact.orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
        .select(*cols)
    )


def ivf_sq8_index_write(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
    centroid_id_col: str = "centroid_id",
) -> None:
    """IVFADC-style combined index: assign each vector to its nearest
    centroid (``ann.py::assign_ivf``), int8-encode it, and persist ONLY
    ``(id, payload, scale, code)`` partitioned by centroid.

    The two 100 TB levers compose: a probe opens ``nprobe`` directories
    (static PartitionFilters prune — unprobed lists cost zero I/O) and
    inside them scans int8 codes, not floats — ~4x fewer bytes per
    probed candidate.  Centroids stay fixed (standard IVF contract);
    append-maintenance works exactly as ``ivf_index_append``.
    """
    from .ann import assign_ivf

    assigned = assign_ivf(
        corpus, centroids, vec_col=vec_col, id_col=id_col,
        centroid_id_col=centroid_id_col,
    )
    enc = sq8_encode(assigned, vec_col=vec_col)
    cols = [id_col, *payload_cols, "scale", "code", centroid_id_col]
    enc.select(*cols).write.mode("overwrite").partitionBy(centroid_id_col).parquet(path)


def ivf_sq8_index_search(
    spark,
    path: str,
    centroids: DataFrame,
    corpus_df: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 1,
    oversample: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    payload_cols: Sequence[str] = (),
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
) -> DataFrame:
    """Probe an IVF+SQ8 index: rank centroids, statically prune to the
    ``nprobe`` winning directories, ADC-score the int8 codes inside
    them, then exact-rerank the ``k * oversample`` survivors against the
    float corpus via a pushed ``In`` filter.

    Driver-side materializations are bounded by design: ``nprobe``
    centroid ids + ``k * oversample`` candidate ids (the same contract
    as ``ann.py::ivf_index_search`` / ``sq8_index_search``).
    """
    from ..functions.vector import l2_distance
    from .knn import _query_col

    qarr = _query_col(query_vec)
    probe_rows = (
        centroids.withColumn("_qd", l2_distance(F.col(centroid_vec_col), qarr))
        .orderBy("_qd", centroid_id_col)
        .limit(nprobe)
        .select(centroid_id_col)
        .collect()
    )
    probe_ids = [r[centroid_id_col] for r in probe_rows]
    codes = (
        spark.read.parquet(path)
        .filter(F.col(centroid_id_col).isin(probe_ids))
        .withColumn("qv", qarr)
        .withColumn(
            "adist",
            F.aggregate(
                F.zip_with(
                    F.col("code"),
                    F.col("qv"),
                    lambda c, q: F.pow(
                        c.cast("double") * F.col("scale") - q, F.lit(2.0)
                    ),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
    )
    pool = (
        codes.orderBy(F.col("adist").asc(), F.col(id_col).asc())
        .limit(k * oversample)
        .select(id_col)
        .collect()
    )
    cand_ids = [r[id_col] for r in pool]
    exact = (
        corpus_df.filter(F.col(id_col).isin(cand_ids))
        .withColumn("qv", qarr)
        .withColumn(
            "distance",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col),
                        F.col("qv"),
                        lambda a, b: F.pow(a.cast("double") - b, F.lit(2.0)),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
        )
    )
    cols = [id_col, *payload_cols, "distance"]
    return (
        exact.orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
        .select(*cols)
    )
