# Auto-split from the monolithic queries.py (VERDICT r5 #9);
# registration side effects run at import, in package order.
from __future__ import annotations

from ._base import DataFrame, F, SparkSession, _dd_l2, _events, _register, _t  # noqa: F401
from .ann_ivf_lsh import _IVF_PROBE_ID, assign_ivf, ivf_search  # noqa: F401
from .dedup import (  # noqa: F401
    _DD_MINHASH_LSH,
    _DD_NEARDUP_CORPUS,
    _LSH_BANDS,
    _neardup_corpus,
    lsh_candidate_pairs,
    minhash_signatures,
)
# Duplicate-cluster resolution (operators/cluster.py): connected
# components over MinHash-LSH candidate pairs, iterated to fixpoint in
# Spark and replayed as a recursive CTE in the oracle.
# ==========================================================================

from ..operators.cluster import duplicate_clusters  # noqa: E402
from ..operators.groupwise import (  # noqa: E402
    groupwise_zscore_native,
    groupwise_zscore_pandas,
)


def _dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    sigs = minhash_signatures(corpus, num_perm=16, shingle_n=3, seed=42)
    pairs = lsh_candidate_pairs(sigs, bands=_LSH_BANDS)
    return duplicate_clusters(corpus, pairs)


_DD_DUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS MATERIALIZED ({_DD_MINHASH_LSH}),
sym AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM sym
  UNION
  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
),
minreach AS (SELECT src AS id, min(dst) AS mr FROM reach GROUP BY src),
corpus AS ({_DD_NEARDUP_CORPUS}),
labeled AS (
  SELECT c.doc_id AS id, least(c.doc_id, coalesce(m.mr, c.doc_id)) AS cluster_id
  FROM corpus c LEFT JOIN minreach m ON c.doc_id = m.id
)
SELECT id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       id = cluster_id AS is_canonical
FROM labeled
"""

_register("dedup_duplicate_clusters", _dup_clusters, _DD_DUP_CLUSTERS)


# ==========================================================================
# Group-wise ops (operators/groupwise.py): the applyInPandas escape
# hatch and its native-window production twin, cross-checked against
# the same oracle.
# ==========================================================================

def _zscore(native: bool):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
        f = groupwise_zscore_native if native else groupwise_zscore_pandas
        out = f(ev, "event_type", "value", "event_id")
        return out.select(
            "event_id", "event_type", "value", F.round("zscore", 4).alias("zscore")
        )

    return fn


_DD_ZSCORE = """
SELECT event_id, event_type, value,
       round(CASE WHEN stddev_pop(value) OVER w > 0
                  THEN (value - avg(value) OVER w) / (stddev_pop(value) OVER w)
                  ELSE 0.0 END, 4) AS zscore
FROM events
WINDOW w AS (PARTITION BY event_type)
"""

_register("groupwise_zscore_pandas", _zscore(native=False), _DD_ZSCORE)
_register("groupwise_zscore_native", _zscore(native=True), _DD_ZSCORE)


# ==========================================================================
# Skew mitigation (operators/skew.py): salted two-phase agg and salted
# broadcast join — plan rewrites held to the same oracle as their
# unsalted forms.  Plus the k-means-trained IVF (operators/kmeans.py);
# cross-partition float summation makes trained centroids run-dependent
# in the last ulps, so that one is a rows-only entry by design.
# ==========================================================================

from ..operators.kmeans import kmeans_fit_sampled  # noqa: E402
from ..operators.skew import salted_agg, salted_broadcast_join  # noqa: E402


def _skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = salted_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "n": ("*", "count"),
            "sum_qty": ("l_quantity", "sum"),
            "min_qty": ("l_quantity", "min"),
            "max_qty": ("l_quantity", "max"),
        },
        salts=16,
    )
    return out.select(
        "l_returnflag", "l_linestatus", "n",
        F.round("sum_qty", 2).alias("sum_qty"), "min_qty", "max_qty",
    )


_register(
    "skew_salted_agg",
    _skew_salted_agg,
    """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
)


def _skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    joined = salted_broadcast_join(orders, cust, "o_custkey", salts=8)
    return joined.groupBy("c_nationkey").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_register(
    "skew_salted_join",
    _skew_salted_join,
    """
SELECT c_nationkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
""",
)


def _ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with data-adaptive (k-means-trained) centroids.

    Oracle (VERDICT r4 item 8): Lloyd means cannot be bit-replayed in
    another engine (accumulation-order ulps), so the oracle is the
    EXACT top-k SQL instead — valid because measured recall@5 of this
    probe is 1.0 at every shipped fixture (verified sf0.001/sf0.01; the
    recall_sweep operator measures the same property).  The gate is
    deliberate: an ANN recall regression on the gated fixture now FAILS
    CORRECTNESS rather than hiding behind a rows-only check.
    ``centroid_id`` is not SQL-derivable (it depends on the trained
    centroids), so the output carries (vec_id, label, distance) only."""
    emb = _t(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding"))
    centroids = kmeans_fit_sampled(vecs, k=8, max_iters=3)
    assigned = assign_ivf(vecs, centroids)
    q = vecs.filter(F.col("vec_id") == _IVF_PROBE_ID).select(F.col("embedding").alias("query_vec"))
    out = ivf_search(
        assigned, centroids, q, k=5, nprobe=2, payload_cols=["vec_id", "label"]
    )
    return out.select("vec_id", "label", F.round("distance", 4).alias("distance"))


_DD_IVF_KMEANS_EXACT = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_IVF_PROBE_ID})
SELECT vec_id, label, round({_dd_l2("embedding", "q.qe")}, 4) AS distance
FROM embeddings, q
ORDER BY {_dd_l2("embedding", "q.qe")}, vec_id
LIMIT 5
"""

_register("ann_ivf_kmeans_search", _ann_ivf_kmeans, _DD_IVF_KMEANS_EXACT)


def _nsw_graph(spark: SparkSession, sf_dir: str):
    from ..operators.nsw import nsw_build

    emb = _t(spark, sf_dir, "embeddings")
    return emb, nsw_build(emb, n_shards=4, m=8, ef_construction=32)


def _ann_nsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded NSW graph ANN, realistic beam width (ef_search=32).

    Oracle (VERDICT r4 item 8): the iterative build/walk has no
    single-statement SQL equivalent, but the beam's RESULT at this
    probe is the exact top-5 on every shipped fixture (verified
    sf0.001/sf0.01, consistent with the test_nsw.py recall floor), so
    the exact top-k SQL gates it — a beam-quality regression on the
    gated fixture now fails CORRECTNESS instead of passing rows-only.
    The exhaustive twin below proves the plumbing independently of
    beam quality."""
    from ..operators.nsw import nsw_search

    emb, graph = _nsw_graph(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == _IVF_PROBE_ID).first()["embedding"]
    out = nsw_search(graph, list(q), k=5, ef_search=32)
    return out.select("vec_id", F.round("distance", 4).alias("distance"))


_DD_NSW_EXHAUSTIVE = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_IVF_PROBE_ID})
SELECT vec_id, round({_dd_l2("embedding", "q.qe")}, 4) AS distance
FROM embeddings, q
ORDER BY {_dd_l2("embedding", "q.qe")}, vec_id
LIMIT 5
"""

_register("ann_nsw_search", _ann_nsw, _DD_NSW_EXHAUSTIVE)


def _ann_nsw_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-graph variant: build once, write partitioned by
    shard, beam-search from the artifact (operators/nsw.py::
    nsw_index_write/nsw_index_search).  Same probe, same exact-top-k
    oracle contract as ann_nsw_search — plus the round-trip proves the
    adjacency/vector arrays survive the parquet cycle."""
    import hashlib
    import os
    import tempfile

    from ..operators.nsw import nsw_index_search, nsw_index_write

    emb, graph = _nsw_graph(spark, sf_dir)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_nsw_index_{tag}")
    nsw_index_write(graph, path)
    q = emb.filter(F.col("vec_id") == _IVF_PROBE_ID).first()["embedding"]
    out = nsw_index_search(spark, path, list(q), k=5, ef_search=32)
    return out.select("vec_id", F.round("distance", 4).alias("distance"))


_register("ann_nsw_index_search", _ann_nsw_index, _DD_NSW_EXHAUSTIVE)


def _ann_nsw_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NSW with beam width >= shard size: the walk visits every node of
    each (connected) shard graph, so scatter-gather NSW must equal the
    exact global top-k — an exact SQL oracle over the *graph* code path
    (build, per-shard walk, global merge).  Deterministic: build order,
    tie-breaks, and entry points are all pinned."""
    from ..operators.nsw import nsw_search

    emb, graph = _nsw_graph(spark, sf_dir)
    n = emb.count()
    q = emb.filter(F.col("vec_id") == _IVF_PROBE_ID).first()["embedding"]
    out = nsw_search(graph, list(q), k=5, ef_search=int(n))
    return out.select("vec_id", F.round("distance", 4).alias("distance"))


_register("ann_nsw_search_exhaustive", _ann_nsw_exhaustive, _DD_NSW_EXHAUSTIVE)


def _ann_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical NSW (HNSW-class, r7): deterministic geometric
    levels from a stable id hash, per-layer NSW graphs, greedy
    upper-layer descent to seed the layer-0 beam — the entry point
    lands near the query instead of at min id, cutting layer-0 hops on
    large shards.  Same exact-top-k oracle contract as ann_nsw_search:
    the beam's RESULT is the exact top-5 on every shipped fixture, so
    a walk-quality regression fails CORRECTNESS, not just recall."""
    from ..operators.nsw import hnsw_build, hnsw_search

    emb = _t(spark, sf_dir, "embeddings")
    g = hnsw_build(emb, n_shards=4, m=8, ef_construction=32)
    q = emb.filter(F.col("vec_id") == _IVF_PROBE_ID).first()["embedding"]
    out = hnsw_search(g, list(q), k=5, ef_search=32)
    return out.select("vec_id", F.round("distance", 4).alias("distance"))


_register("ann_hnsw_search", _ann_hnsw, _DD_NSW_EXHAUSTIVE)


def _ann_hnsw_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted hierarchical graph: the nested per-layer adjacency and
    the level column round-trip through the shard-partitioned artifact
    (nsw_index_write — layout shared with the flat graph), then the
    standard descend-and-beam walk.  Same exact-top-k oracle."""
    import hashlib
    import os
    import tempfile

    from ..operators.nsw import hnsw_build, hnsw_index_search, nsw_index_write

    emb = _t(spark, sf_dir, "embeddings")
    g = hnsw_build(emb, n_shards=4, m=8, ef_construction=32)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_hnsw_index_{tag}")
    nsw_index_write(g, path)
    q = emb.filter(F.col("vec_id") == _IVF_PROBE_ID).first()["embedding"]
    out = hnsw_index_search(spark, path, list(q), k=5, ef_search=32)
    return out.select("vec_id", F.round("distance", 4).alias("distance"))


_register("ann_hnsw_index_search", _ann_hnsw_index, _DD_NSW_EXHAUSTIVE)


def _ann_hnsw_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SERVING-path shape (VERDICT r7 #3): build the persisted
    hierarchical graph ONCE (only if the artifact is absent — the
    deployed index is built by the ingest side, not per query) and
    measure the probe alone.  The bench times only the returned plan's
    execution, so this entry's number is pure descend-and-beam over the
    shard-partitioned artifact.  Same exact-top-k oracle as the other
    HNSW entries; the artifact path is keyed by fixture AND build
    params so a parameter change can never reuse a stale graph."""
    import hashlib
    import os
    import tempfile

    from ..operators.nsw import hnsw_build, hnsw_index_search, nsw_index_write

    emb = _t(spark, sf_dir, "embeddings")
    params = "shards4_m8_efc32_v1"
    tag = hashlib.md5(f"{sf_dir}|{params}".encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_hnsw_probe_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        g = hnsw_build(emb, n_shards=4, m=8, ef_construction=32)
        nsw_index_write(g, path)
    q = emb.filter(F.col("vec_id") == _IVF_PROBE_ID).first()["embedding"]
    out = hnsw_index_search(spark, path, list(q), k=5, ef_search=32)
    return out.select("vec_id", F.round("distance", 4).alias("distance"))


_register("ann_hnsw_probe", _ann_hnsw_probe, _DD_NSW_EXHAUSTIVE)


def _ann_hnsw_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched hierarchical search: 8 queries walk every shard in ONE
    applyInPandas pass (vectors + adjacency deserialized once per
    shard, amortized over the batch), then a per-query partitioned
    window merges n_shards*k candidate rows.  Exact top-5 for every
    query at every fixture — same oracle contract as the single-query
    entries, batched."""
    from ..operators.nsw import hnsw_build, hnsw_search_join

    emb = _t(spark, sf_dir, "embeddings")
    g = hnsw_build(emb, n_shards=4, m=8, ef_construction=32)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = hnsw_search_join(g, queries, k=5, ef_search=32)
    return out.select(
        "query_id", "rank", "vec_id", F.round("distance", 4).alias("distance")
    )


_DD_HNSW_BATCH = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8)
SELECT q.query_id,
       row_number() OVER (
         PARTITION BY q.query_id ORDER BY {_dd_l2("e.embedding", "q.qe")}, e.vec_id) AS rank,
       e.vec_id,
       round({_dd_l2("e.embedding", "q.qe")}, 4) AS distance
FROM embeddings e, q
QUALIFY rank <= 5
"""

_register("ann_hnsw_search_batch", _ann_hnsw_search_batch, _DD_HNSW_BATCH)


# ==========================================================================


# ==========================================================================
# HNSW graph maintenance (round 8 — VERDICT r7 #5): the index-
# maintenance layer extended to the graph index.  Deletes are
# mark-delete tombstones (walked through, never returned), appends land
# in a flat per-shard delta buffer (exact-scanned at search, merged
# in-pass), and compaction rebuilds ONLY the dirty shards from their
# surviving members — because shard membership is a pure id hash and
# the per-shard build is deterministic, the compacted tree is
# bit-identical to a fresh build over the surviving corpus.  The gated
# result carries all three phases (messy-tree search, post-compact
# search, fresh-build search) so the driver gate itself proves the
# hash-match contract; the oracle replays the logical outcome (exact
# top-5 of the survivor corpus — the standing HNSW beam-exactness
# contract on the fixtures).
# ==========================================================================


def _ann_hnsw_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from ..operators.nsw import (
        hnsw_build,
        hnsw_index_append,
        hnsw_index_compact,
        hnsw_index_delete,
        hnsw_index_write_maint,
        hnsw_maint_search,
        hnsw_search,
    )

    emb = _t(spark, sf_dir, "embeddings")
    params = dict(n_shards=4, m=8, ef_construction=32)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_hnsw_maint_{tag}")
    dest = path + "_compact"
    for d in (path, dest):  # entries must be re-runnable in one session
        shutil.rmtree(d, ignore_errors=True)

    hnsw_index_write_maint(hnsw_build(emb, **params), path)
    q = list(emb.filter(F.col("vec_id") == _IVF_PROBE_ID).first()["embedding"])

    base5 = hnsw_maint_search(spark, path, q, k=5, ef_search=32).collect()
    dead = [int(base5[1]["vec_id"]), int(base5[2]["vec_id"])]
    upserted = int(base5[3]["vec_id"])
    donor_id = int(base5[4]["vec_id"])
    donor_vec = list(
        emb.filter(F.col("vec_id") == donor_id).first()["embedding"]
    )
    new_id = int(emb.agg(F.max("vec_id")).first()[0]) + 1

    hnsw_index_delete(
        spark.createDataFrame([(i,) for i in dead], "vec_id long"), path
    )
    vec_t = T.ArrayType(T.FloatType())
    upsert_rows = spark.createDataFrame(
        [(upserted, donor_vec), (new_id, q)],
        T.StructType([
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", vec_t),
        ]),
    )
    hnsw_index_append(upsert_rows, path, n_shards=params["n_shards"])

    pre = hnsw_maint_search(spark, path, q, k=5, ef_search=32)
    hnsw_index_compact(spark, path, dest, **params)
    post = hnsw_maint_search(spark, dest, q, k=5, ef_search=32)

    survivors = (
        emb.filter(~F.col("vec_id").isin(dead))
        .select(
            "vec_id",
            F.when(F.col("vec_id") == upserted, F.lit(donor_vec).cast(vec_t))
            .otherwise(F.col("embedding").cast(vec_t))
            .alias("embedding"),
        )
        .unionByName(upsert_rows.filter(F.col("vec_id") == new_id))
    )
    fresh = hnsw_search(hnsw_build(survivors, **params), q, k=5, ef_search=32)

    out = (
        pre.withColumn("phase", F.lit("pre"))
        .unionByName(post.withColumn("phase", F.lit("post")))
        .unionByName(fresh.withColumn("phase", F.lit("fresh")))
    )
    return out.select("phase", "vec_id", F.round("distance", 4).alias("distance"))


_DD_HNSW_COMPACT = f"""
WITH q AS MATERIALIZED (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_IVF_PROBE_ID}),
ranked AS MATERIALIZED (
  SELECT e.vec_id, e.embedding,
         row_number() OVER (ORDER BY {_dd_l2("e.embedding", "q.qe")}, e.vec_id) AS rk
  FROM embeddings e, q
  QUALIFY rk <= 5
),
survivors AS MATERIALIZED (
  SELECT e.vec_id,
         CASE WHEN e.vec_id = (SELECT vec_id FROM ranked WHERE rk = 4)
              THEN (SELECT embedding FROM ranked WHERE rk = 5)
              ELSE e.embedding END AS emb
  FROM embeddings e
  WHERE e.vec_id NOT IN (SELECT vec_id FROM ranked WHERE rk IN (2, 3))
  UNION ALL
  SELECT (SELECT max(vec_id) + 1 FROM embeddings), qe FROM q
),
top5 AS MATERIALIZED (
  SELECT vec_id, round({_dd_l2("s.emb", "q.qe")}, 4) AS distance
  FROM survivors s, q
  QUALIFY row_number() OVER (ORDER BY {_dd_l2("s.emb", "q.qe")}, vec_id) <= 5
)
SELECT p.phase, t.vec_id, t.distance
FROM (VALUES ('pre'), ('post'), ('fresh')) p(phase), top5 t
"""

_register("ann_hnsw_index_compact", _ann_hnsw_index_compact, _DD_HNSW_COMPACT)


def _stream_hnsw_upsert_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the HNSW tree (round 8): even-id
    vectors bulk-build the graph, odd ids stream into the FLAT delta
    buffer as 2 micro-batches (streaming/index_stream.py::
    stream_into_hnsw_index), batch 0's file is REPLAYED verbatim at its
    batch id (the foreachBatch retry — dynamic partition overwrite must
    make it a no-op), one row is tombstoned, and the maintained search
    must return exactly the logical answer: exact top-5 of the full
    corpus minus the deleted rank (graph beam is exact on the fixtures,
    delta rows are exact-scanned, so the oracle is pure SQL)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..operators.nsw import (
        hnsw_build,
        hnsw_index_append,
        hnsw_index_delete,
        hnsw_index_write_maint,
        hnsw_maint_search,
    )
    from ..streaming.index_stream import stream_into_hnsw_index
    from ._base import _drain

    emb = _t(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_stream_hnswmaint_{tag}_{os.getpid()}"
    )
    src, idx, ckpt = f"{base}/src", f"{base}/index", f"{base}/ckpt"
    shutil.rmtree(base, ignore_errors=True)

    n_shards = 4
    hnsw_index_write_maint(
        hnsw_build(emb.filter(F.col("vec_id") % 2 == 0), n_shards=n_shards,
                   m=8, ef_construction=32),
        idx,
    )
    odd = emb.select("vec_id", "embedding").filter(F.col("vec_id") % 2 == 1)
    odd.filter(F.col("vec_id") % 4 == 1).coalesce(1).write.parquet(f"{src}/f0")
    odd.filter(F.col("vec_id") % 4 == 3).coalesce(1).write.parquet(f"{src}/f1")
    stream = (
        spark.readStream.schema(odd.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    _drain(stream_into_hnsw_index(stream, idx, n_shards, checkpoint=ckpt), 120)

    # the replay: batch 0 ran as batch_id=1 — re-append bit-identically
    hnsw_index_append(
        spark.read.parquet(f"{src}/f0"), idx, n_shards=n_shards, batch_id=1
    )

    q = list(emb.filter(F.col("vec_id") == _IVF_PROBE_ID).first()["embedding"])
    base_rows = hnsw_maint_search(spark, idx, q, k=5, ef_search=32).collect()
    victim = int(base_rows[1]["vec_id"])  # rank 2 of the merged search
    hnsw_index_delete(spark.createDataFrame([(victim,)], "vec_id long"), idx)

    out = hnsw_maint_search(spark, idx, q, k=5, ef_search=32)
    return out.select("vec_id", F.round("distance", 4).alias("distance"))


_DD_STREAM_HNSW_MAINT = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {_IVF_PROBE_ID}),
ranked AS (
  SELECT e.vec_id, {_dd_l2("e.embedding", "q.qe")} AS d,
         row_number() OVER (ORDER BY {_dd_l2("e.embedding", "q.qe")}, e.vec_id) AS rk
  FROM embeddings e, q
)
SELECT vec_id, round(d, 4) AS distance
FROM ranked WHERE rk != 2
ORDER BY d, vec_id
LIMIT 5
"""

_register("stream_hnsw_upsert_replay", _stream_hnsw_upsert_replay, _DD_STREAM_HNSW_MAINT)
