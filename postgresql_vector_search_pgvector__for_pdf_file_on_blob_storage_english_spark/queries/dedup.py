# Auto-split from the monolithic queries.py (VERDICT r5 #9);
# registration side effects run at import, in package order.
from __future__ import annotations

from ._base import (  # noqa: F401
    DataFrame,
    F,
    SparkSession,
    _DD_NORMALIZE,
    _dd_dot,
    _dd_l2,
    _dd_norm,
    _register,
    _t,
    dd_sql,
    knn_join,
    normalize_whitespace_col,
)
# Training-data pipeline: dedup family
# (operators/dedup.py; corpus = documents + synthetic duplicates built
# identically on both sides so the operators demonstrably fire)
# ==========================================================================

from ..operators.dedup import (  # noqa: E402
    LSH_P,
    _lcg_params,
    exact_dedup,
    embedding_neardup_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
    simhash_packed,
)
from ..operators.textstats import (  # noqa: E402
    BPE_REGEX,
    LANG_MARKERS,
    STOPWORDS_EN,
    fingerprint,
    language_id,
    quality_score,
    token_stats,
)

_DUP_TAIL = " extra appended tail tokens"


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + exact copies of every 50th doc (ids offset by 1e6)."""
    docs = _t(spark, sf_dir, "documents")
    dups = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    return docs.unionByName(dups)


_DD_DUP_CORPUS = """
SELECT * FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
FROM documents WHERE doc_id % 50 = 0
"""


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + *perturbed* copies (tail appended) of every 50th doc."""
    docs = _t(spark, sf_dir, "documents")
    dups = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_DUP_TAIL)).alias("text"),
        "lang", "source", "n_chars",
    )
    return docs.unionByName(dups)


_DD_NEARDUP_CORPUS = f"""
SELECT * FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text || '{_DUP_TAIL}' AS text, lang, source, n_chars
FROM documents WHERE doc_id % 50 = 0
"""


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = exact_dedup(_dup_corpus(spark, sf_dir))
    return out.select("fingerprint", "group_size", "doc_id", "source")


_register(
    "dedup_exact_survivors",
    _dedup_exact,
    f"""
WITH corpus AS ({_DD_DUP_CORPUS})
SELECT md5({dd_sql(_DD_NORMALIZE, col="text")}) AS fingerprint,
       count(*) OVER (PARTITION BY md5({dd_sql(_DD_NORMALIZE, col="text")})) AS group_size,
       doc_id, source
FROM corpus
QUALIFY row_number() OVER (PARTITION BY md5({dd_sql(_DD_NORMALIZE, col="text")}) ORDER BY doc_id) = 1
""",
)


def _dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    fp = F.md5(normalize_whitespace_col("text"))
    return corpus.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(fp).alias("n_unique"),
        (F.count("*") - F.countDistinct(fp)).alias("n_dup_rows"),
    )


_register(
    "dedup_exact_stats",
    _dedup_exact_stats,
    f"""
WITH corpus AS ({_DD_DUP_CORPUS})
SELECT count(*) AS n_rows,
       count(DISTINCT md5({dd_sql(_DD_NORMALIZE, col="text")})) AS n_unique,
       count(*) - count(DISTINCT md5({dd_sql(_DD_NORMALIZE, col="text")})) AS n_dup_rows
FROM corpus
""",
)


# ---- MinHash + banded LSH (fully oracle-replayed) ------------------------

_MINHASH_PERMS = _lcg_params(16, seed=42)
_LSH_BANDS = 4
_ROWS_PER_BAND = 16 // _LSH_BANDS

# DuckDB twins of operators/dedup.word_shingles + hash32
_DD_HASH32 = "(('0x' || substr(md5({s}), 1, 8))::BIGINT)"


def _dd_shingles(norm: str, n: int = 3, words: str | None = None) -> str:
    """DuckDB shingle-set expr.  Pass ``words`` (a precomputed
    ``string_split(trim(norm), ' ')`` column) to avoid re-splitting the
    text once per reference — the expression reads its word list 5×."""
    words = words or f"string_split(trim({norm}), ' ')"
    shingle = " || ' ' || ".join(f"{words}[i+{j}]" for j in range(n))
    return (
        f"(CASE WHEN len({words}) - {n - 1} >= 1 THEN "
        f"list_distinct(list_transform(range(1, len({words}) - {n - 1} + 1), i -> {shingle})) "
        f"ELSE [trim({norm})] END)"
    )


def _dd_minhash_sig(shingles_expr: str) -> str:
    bases = f"list_transform({shingles_expr}, s -> {dd_sql(_DD_HASH32, s='s')})"
    mins = ", ".join(
        f"list_min(list_transform(bases, h -> ({a}::BIGINT * h + {b}) % {LSH_P}))"
        for a, b in _MINHASH_PERMS
    )
    return f"(SELECT [{mins}] FROM (SELECT {bases} AS bases) _b)"


def _minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    sigs = minhash_signatures(corpus, num_perm=16, shingle_n=3, seed=42)
    return lsh_candidate_pairs(sigs, bands=_LSH_BANDS).orderBy("id_a", "id_b")


_DD_MINHASH_LSH = f"""
WITH corpus AS ({_DD_NEARDUP_CORPUS}),
w AS (
  SELECT doc_id, trim({dd_sql(_DD_NORMALIZE, col="text")}) AS norm_text,
         string_split(trim({dd_sql(_DD_NORMALIZE, col="text")}), ' ') AS words
  FROM corpus
),
bases AS (
  -- per-shingle md5 hashes computed ONCE per doc, not once per permutation
  SELECT doc_id,
         list_transform({_dd_shingles("norm_text", words="words")}, s -> {dd_sql(_DD_HASH32, s="s")}) AS base_hashes
  FROM w
),
sigs AS (
  SELECT doc_id,
         list_transform(range(1, 17), j ->
           list_min(list_transform(base_hashes,
             h -> ([{", ".join(str(a) for a, _ in _MINHASH_PERMS)}][j]::BIGINT * h
                   + [{", ".join(str(b) for _, b in _MINHASH_PERMS)}][j]) % {LSH_P}))) AS sig
  FROM bases
),
banded AS (
  SELECT doc_id, b AS band_id,
         md5(array_to_string(sig[b*{_ROWS_PER_BAND}+1 : b*{_ROWS_PER_BAND}+{_ROWS_PER_BAND}], ',')) AS band_hash
  FROM sigs CROSS JOIN unnest([{", ".join(str(b) for b in range(_LSH_BANDS))}]) AS t(b)
)
SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
FROM banded l JOIN banded r
  ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
ORDER BY id_a, id_b
"""

_register("dedup_minhash_lsh_candidates", _minhash_lsh, _DD_MINHASH_LSH)


# ---- SimHash --------------------------------------------------------------

def _simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_packed(_neardup_corpus(spark, sf_dir), bits=32)


_SIMHASH_BITS_SQL = " + ".join(
    f"(CASE WHEN list_sum(list_transform(hashes, h -> ((h >> {b}) & 1) * 2 - 1)) > 0 "
    f"THEN {1 << b}::BIGINT ELSE 0 END)"
    for b in range(32)
)

_DD_SIMHASH = f"""
WITH corpus AS ({_DD_NEARDUP_CORPUS}),
h AS (
  SELECT doc_id,
         list_transform(string_split(trim({dd_sql(_DD_NORMALIZE, col="text")}), ' '),
                        w -> {dd_sql(_DD_HASH32, s="w")}) AS hashes
  FROM corpus
)
SELECT doc_id, ({_SIMHASH_BITS_SQL}) AS simhash FROM h
"""

_register("dedup_simhash_values", _simhash_values, _DD_SIMHASH)


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    values = simhash_packed(corpus, bits=32).join(corpus.select("doc_id", "lang"), "doc_id")
    return simhash_neardup_pairs(values, max_hamming=6, block_col="lang")


_DD_SIMHASH_PAIRS = f"""
WITH corpus AS ({_DD_NEARDUP_CORPUS}),
h AS (
  SELECT doc_id, lang,
         list_transform(string_split(trim({dd_sql(_DD_NORMALIZE, col="text")}), ' '),
                        w -> {dd_sql(_DD_HASH32, s="w")}) AS hashes
  FROM corpus
),
v AS (SELECT doc_id, lang, ({_SIMHASH_BITS_SQL}) AS simhash FROM h)
SELECT l.doc_id AS id_a, r.doc_id AS id_b,
       bit_count(xor(l.simhash, r.simhash))::INT AS hamming
FROM v l JOIN v r ON l.lang = r.lang AND l.doc_id < r.doc_id
WHERE bit_count(xor(l.simhash, r.simhash)) <= 6
"""

_register("dedup_simhash_neardup_pairs", _simhash_pairs, _DD_SIMHASH_PAIRS)


# ---- n-gram Jaccard -------------------------------------------------------

def _jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        _neardup_corpus(spark, sf_dir), block_col="lang", shingle_n=3, threshold=0.5
    )


_DD_JACCARD = f"""
WITH corpus AS ({_DD_NEARDUP_CORPUS}),
w AS (
  SELECT doc_id, lang, trim({dd_sql(_DD_NORMALIZE, col="text")}) AS norm_text,
         string_split(trim({dd_sql(_DD_NORMALIZE, col="text")}), ' ') AS words
  FROM corpus
),
sets AS (
  SELECT doc_id, lang, {_dd_shingles("norm_text", words="words")} AS shingles
  FROM w
)
SELECT id_a, id_b, jaccard FROM (
  SELECT l.doc_id AS id_a, r.doc_id AS id_b,
         round(len(list_intersect(l.shingles, r.shingles))::DOUBLE /
               len(list_distinct(list_concat(l.shingles, r.shingles)))::DOUBLE, 4) AS jaccard
  FROM sets l JOIN sets r ON l.lang = r.lang AND l.doc_id < r.doc_id
)
WHERE jaccard >= 0.5
"""

_register("dedup_ngram_jaccard_pairs", _jaccard_pairs, _DD_JACCARD)


def _jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning report: candidate-pair counts at 0.3/0.5/0.7/0.9
    Jaccard from ONE pass of the pair computation — the sweep a pipeline
    runs before fixing its dedup threshold (how many pairs does each
    setting flag?).  Same blocked join as the 0.5 entry; the four counts
    are conditional aggregates over the same scored pairs."""
    thresholds = (0.3, 0.5, 0.7, 0.9)
    pairs = ngram_jaccard_pairs(
        _neardup_corpus(spark, sf_dir), block_col="lang", shingle_n=3, threshold=0.3
    )
    wide = pairs.agg(
        *[
            F.sum((F.col("jaccard") >= t).cast("long")).alias(f"_n_{i}")
            for i, t in enumerate(thresholds)
        ]
    )
    rows = [
        F.struct(F.lit(t).alias("threshold"), F.col(f"_n_{i}").alias("n_pairs"))
        for i, t in enumerate(thresholds)
    ]
    return wide.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


_register(
    "dedup_jaccard_threshold_sweep",
    _jaccard_threshold_sweep,
    f"""
WITH corpus AS ({_DD_NEARDUP_CORPUS}),
w AS (
  SELECT doc_id, lang, trim({dd_sql(_DD_NORMALIZE, col="text")}) AS norm_text,
         string_split(trim({dd_sql(_DD_NORMALIZE, col="text")}), ' ') AS words
  FROM corpus
),
sets AS (
  SELECT doc_id, lang, {_dd_shingles("norm_text", words="words")} AS shingles
  FROM w
),
scored AS (
  SELECT round(len(list_intersect(l.shingles, r.shingles))::DOUBLE /
               len(list_distinct(list_concat(l.shingles, r.shingles)))::DOUBLE, 4) AS jaccard
  FROM sets l JOIN sets r ON l.lang = r.lang AND l.doc_id < r.doc_id
),
kept AS (SELECT * FROM scored WHERE jaccard >= 0.3)
SELECT t.threshold, CAST(sum(CASE WHEN jaccard >= t.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
FROM kept, (SELECT CAST(unnest([0.3, 0.5, 0.7, 0.9]) AS DOUBLE) AS threshold) t
GROUP BY t.threshold
""",
)


def _eval_knn_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation as a relation: MRR and recall@5 of the exact
    KNN retriever against planted ground truth — every 50th vector gets
    a 1.01x-perturbed twin used as the QUERY, whose base vector is THE
    relevant document.  Misses (relevant not in the top-10) contribute
    0 to MRR, the standard convention.  One batched KNN pass + one
    aggregate; this is the eval loop a retrieval stack runs after any
    index or embedding change."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.transform(
            F.col("embedding"), lambda x: (x.cast("double") * 1.01).cast("float")
        ).alias("query_vec"),
    )
    hits = knn_join(emb, queries, k=10, payload_cols=["vec_id"])
    found = hits.filter(F.col("vec_id") == F.col("query_id")).select(
        "query_id", "rank"
    )
    return (
        queries.join(found, "query_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(F.col("rank").isNotNull().cast("long")).alias("n_found_top10"),
            F.round(F.avg(F.coalesce(1.0 / F.col("rank"), F.lit(0.0))), 4).alias("mrr"),
            F.round(
                F.avg(F.coalesce((F.col("rank") <= 5).cast("double"), F.lit(0.0))), 4
            ).alias("recall_at_5"),
        )
    )


_register(
    "eval_knn_mrr",
    _eval_knn_mrr,
    dd_sql("""
WITH q AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> (x::DOUBLE * 1.01)::FLOAT) AS qv
  FROM embeddings WHERE vec_id % 50 = 0
),
ranked AS (
  SELECT q.query_id, e.vec_id,
         row_number() OVER (PARTITION BY q.query_id ORDER BY {dist}, e.vec_id) AS rank
  FROM embeddings e, q
  QUALIFY rank <= 10
),
found AS (SELECT query_id, rank FROM ranked WHERE vec_id = query_id)
SELECT count(*) AS n_queries,
       CAST(sum(CASE WHEN f.rank IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found_top10,
       round(avg(coalesce(1.0 / f.rank, 0.0)), 4) AS mrr,
       round(avg(CASE WHEN f.rank <= 5 THEN 1.0 ELSE 0.0 END), 4) AS recall_at_5
FROM q LEFT JOIN found f USING (query_id)
""", dist=_dd_l2("e.embedding", "q.qv")),
)


# ---- embedding-cosine near-dup --------------------------------------------

def _emb_neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    dups = emb.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: (x.cast("double") * 1.01).cast("float")).alias("embedding"),
        "label",
    )
    return emb.unionByName(dups)


_DD_EMB_NEARDUP_CORPUS = """
SELECT * FROM embeddings
UNION ALL
SELECT vec_id + 1000000 AS vec_id,
       list_transform(embedding, x -> (x::DOUBLE * 1.01)::FLOAT) AS embedding,
       label
FROM embeddings WHERE vec_id % 50 = 0
"""


def _emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(
        _emb_neardup_corpus(spark, sf_dir), block_col="label", threshold=0.99
    )


# normalize-then-dot, the exact arithmetic of embedding_neardup_pairs
_DD_NVEC = (
    "list_transform({v}, x -> x::DOUBLE / "
    + _dd_norm("{v}")
    + ")"
)

_register(
    "dedup_embedding_cosine_pairs",
    _emb_neardup,
    f"""
WITH corpus AS ({_DD_EMB_NEARDUP_CORPUS}),
sets AS (SELECT vec_id, label, {dd_sql(_DD_NVEC, v="embedding")} AS nvec FROM corpus)
SELECT id_a, id_b, cosine_sim FROM (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         round({_dd_dot("l.nvec", "r.nvec")}, 4) AS cosine_sim
  FROM sets l JOIN sets r ON l.label = r.label AND l.vec_id < r.vec_id
)
WHERE cosine_sim >= 0.99
""",
)


# ---- SemDeDup: embedding-cluster dedup (VERDICT r4 item 5) ---------------

# 16 centroids: cluster size (not cluster count) bounds the pair join's
# fan-out, so more clusters = less work; at 100 TB k scales ~sqrt(N).
_SEM_N_CENTROIDS = 16
_SEM_THRESHOLD = 0.99


def _semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-then-near-dup over the woven corpus (same planted 1.01x
    duplicates as ``dedup_embedding_cosine_pairs``); centroids are the 8
    lowest-id base vectors — the deterministic k-means stand-in that
    keeps the composition oracle-replayable (kmeans.py trains real
    centroids in production, where bit-replay is not required)."""
    from ..operators.dedup import semantic_dedup

    corpus = _emb_neardup_corpus(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _SEM_N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    return semantic_dedup(corpus, centroids, threshold=_SEM_THRESHOLD)


_DD_SEMANTIC = dd_sql(
    """
WITH corpus AS ({corpus}),
cent AS (
  SELECT vec_id AS centroid_id, embedding AS cvec FROM embeddings WHERE vec_id < {nc}
),
assigned AS (
  SELECT c.vec_id, c.embedding, ct.centroid_id
  FROM corpus c CROSS JOIN cent ct
  QUALIFY row_number() OVER (
    PARTITION BY c.vec_id ORDER BY {adist}, ct.centroid_id) = 1
),
sets AS (SELECT vec_id, centroid_id, {nvec} AS nvec FROM assigned),
pairs AS (
  SELECT l.vec_id AS id_a, r.vec_id AS id_b
  FROM sets l JOIN sets r ON l.centroid_id = r.centroid_id AND l.vec_id < r.vec_id
  WHERE round({sim}, 4) >= {thresh}
),
dups AS (SELECT DISTINCT id_b AS vec_id FROM pairs)
SELECT a.vec_id, a.centroid_id, (d.vec_id IS NOT NULL) AS is_dup
FROM assigned a LEFT JOIN dups d USING (vec_id)
""",
    corpus=_DD_EMB_NEARDUP_CORPUS,
    nc=_SEM_N_CENTROIDS,
    adist=_dd_l2("c.embedding", "ct.cvec"),
    nvec=dd_sql(_DD_NVEC, v="embedding"),
    sim=_dd_dot("l.nvec", "r.nvec"),
    thresh=_SEM_THRESHOLD,
)

_register("dedup_semantic_clusters", _semantic_clusters, _DD_SEMANTIC)


def _semantic_clusters_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEMM scale path: identical contract, pair stage = one BLAS
    similarity matrix per cluster (applyInPandas).  Held to the SAME
    oracle — valid under the 4-decimal rounding both pair paths share
    (see embedding_neardup_pairs_numpy's tolerance note)."""
    from ..operators.dedup import semantic_dedup

    corpus = _emb_neardup_corpus(spark, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < _SEM_N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    return semantic_dedup(corpus, centroids, threshold=_SEM_THRESHOLD, gemm=True)


_register("dedup_semantic_clusters_numpy", _semantic_clusters_numpy, _DD_SEMANTIC)


def _similar_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(emb, block_col="label", threshold=-1.0)
    return pairs.orderBy(F.col("cosine_sim").desc(), "id_a", "id_b").limit(20)


_register(
    "similarity_top_pairs",
    _similar_pairs_topk,
    f"""
WITH sets AS (SELECT vec_id, label, {dd_sql(_DD_NVEC, v="embedding")} AS nvec FROM embeddings)
SELECT l.vec_id AS id_a, r.vec_id AS id_b,
       round({_dd_dot("l.nvec", "r.nvec")}, 4) AS cosine_sim
FROM sets l JOIN sets r ON l.label = r.label AND l.vec_id < r.vec_id
ORDER BY {_dd_dot("l.nvec", "r.nvec")} DESC, id_a, id_b
LIMIT 20
""",
)


# ==========================================================================


# --------------------------------------------------------------------------
# Span-level substring dedup (round 6) — operators/dedup.py::
# substring_dup_spans.  Per-document fraction of token positions
# covered by an 8-gram that also occurs in another document (Lee et
# al. 2021's signal at fixed granularity).  Same bounded shapes as
# decontamination: gram hashes shuffle, text never does.
# --------------------------------------------------------------------------

_SPAN_K = 8


def _substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import substring_dup_spans
    from ..operators.retrieval import tokenize_pos

    docs = _t(spark, sf_dir, "documents")
    out = substring_dup_spans(tokenize_pos(docs), k=_SPAN_K)
    return out.filter(F.col("dup_positions") > 0).orderBy("doc_id")


_DD_SPANS = dd_sql(
    """
WITH n AS (SELECT doc_id, {norm} AS norm FROM documents),
terms AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(trim(norm), ' '), x -> lower(x)),
                     x -> x != '') AS ts
  FROM n
),
grams AS (
  SELECT doc_id, i.i AS pos, md5(array_to_string(ts[i.i+1 : i.i+{k}], ' ')) AS gram
  FROM terms, unnest(range(0, greatest(len(ts) - {k} + 1, 0))) AS i(i)
),
shared AS (SELECT gram FROM grams GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
cov AS (
  SELECT DISTINCT doc_id, c.c AS cp
  FROM grams JOIN shared USING (gram), unnest(range(pos, pos + {k})) AS c(c)
),
agg AS (SELECT doc_id, count(*) AS dup_positions FROM cov GROUP BY doc_id)
SELECT t.doc_id,
       len(t.ts)::BIGINT AS n_tokens,
       a.dup_positions::BIGINT AS dup_positions,
       round(a.dup_positions / len(t.ts), 4) AS dup_frac
FROM terms t JOIN agg a USING (doc_id)
WHERE a.dup_positions > 0
ORDER BY t.doc_id
""",
    norm=dd_sql(_DD_NORMALIZE, col="text"),
    k=_SPAN_K,
)

_register("dedup_substring_spans", _substring_spans, _DD_SPANS)


# ==========================================================================
# Fuzzy record linkage (round 7) — FastSS deletion-neighborhood
# edit-distance join (operators/fuzzy.py) in its SCALE form: the
# quadratic signature-blocked stage runs over DISTINCT name values
# (duplicates collapse into multiplicities first — a corpus where every
# name repeats k times would otherwise pay k^2 the work for no new
# information), signatures are md5'd before the exchange, exact
# levenshtein verifies candidates only, and the id-level pair total is
# recovered arithmetically (value pair -> n_a*n_b, duplicate value ->
# n*(n-1)/2) without materializing the quadratic pair set.
# ==========================================================================


def _fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzy import fuzzy_value_report_d1

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    # one FastSS pass feeds both the pair report and the id-pair total
    # (r13 opt: the old pairs+count composition ran the signature join
    # and levenshtein verification twice — 2x on the dominant stage)
    pairs, total = fuzzy_value_report_d1(cust, "c_name", "c_custkey")
    return (
        pairs.crossJoin(F.broadcast(total))
        .orderBy("c_name_a", "c_name_b")
        .limit(50)
        .select(
            "c_name_a", "c_name_b", "n_a", "n_b",
            "min_id_a", "min_id_b", "dist", "n_id_pairs",
        )
    )


_DD_FUZZY = """
WITH vals AS (
  SELECT c_name AS name, count(*)::BIGINT AS n_ids, min(c_custkey) AS min_id
  FROM customer GROUP BY 1
),
dels AS (
  -- deletion positions derived from each value's own length (no hard
  -- cap — the Spark side enumerates the full length too, ADVICE r7)
  SELECT id, substring(name, 1, i - 1) || substring(name, i + 1, length(name)) AS sig
  FROM (SELECT min_id AS id, name,
               unnest(generate_series(1, length(name))) AS i
        FROM vals)
),
sigs AS (
  SELECT DISTINCT id, md5(sig) AS h FROM dels
  UNION
  SELECT min_id, md5(name) FROM vals
),
cand AS (
  SELECT DISTINCT a.id AS ia, b.id AS ib
  FROM sigs a JOIN sigs b ON a.h = b.h AND a.id < b.id
),
ver AS (
  SELECT va.name AS c_name_a, vb.name AS c_name_b,
         va.n_ids AS n_a, vb.n_ids AS n_b,
         va.min_id AS min_id_a, vb.min_id AS min_id_b,
         CAST(levenshtein(va.name, vb.name) AS INTEGER) AS dist
  FROM cand JOIN vals va ON va.min_id = ia JOIN vals vb ON vb.min_id = ib
  WHERE levenshtein(va.name, vb.name) <= 1
),
total AS (
  SELECT (SELECT coalesce(sum((n_ids * (n_ids - 1)) // 2), 0) FROM vals)::BIGINT
         + (SELECT coalesce(sum(n_a * n_b), 0) FROM ver)::BIGINT AS n_id_pairs
)
SELECT c_name_a, c_name_b, n_a, n_b, min_id_a, min_id_b, dist, n_id_pairs
FROM ver, total
ORDER BY c_name_a, c_name_b
LIMIT 50
"""

_register("dedup_fuzzy_name_pairs", _fuzzy_name_pairs, _DD_FUZZY)



# --------------------------------------------------------------------------
# Ed-Join edit-distance join, k = 2 (round 8, session 2) — the content-
# adaptive complement to FastSS (d = 1 only): candidates block on each
# value's q*k + 1 globally-RAREST positional q-grams (operators/
# fuzzy.py::edjoin_value_pairs), verified with one levenshtein per
# candidate.  Domain: part names, where the distinct-value discipline
# is maximally visible — the p_name vocabulary SATURATES (64 distinct
# values at sf0.001 and at sf0.1 alike), so the quadratic candidate
# stage runs on a bounded set at every scale and only the multiplicity
# groupBy sees the corpus; id-pair totals are recovered arithmetically
# (n_a * n_b), never materialized.  (A c_name variant was measured and
# rejected: zero-padded serial ids have too few rare grams, so
# prefixes flood with the shared "Customer#" boilerplate and the
# candidate set goes quadratic — structured-id domains belong to
# FastSS's position-keyed signatures, diverse-text domains to Ed-Join.)
# Oracle: brute-force quadratic with the length filter over the
# distinct values.
# --------------------------------------------------------------------------


def _edjoin_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzy import edjoin_value_pairs

    part = _t(spark, sf_dir, "part")
    pairs = edjoin_value_pairs(part, "p_name", "p_partkey", q=2, k=2)
    return pairs.select(
        "p_name_a", "p_name_b", "n_a", "n_b", "dist",
        (F.col("n_a") * F.col("n_b")).cast("long").alias("n_id_pairs"),
    )


_DD_EDJOIN_PAIRS = """
WITH vals AS (
  SELECT p_name AS s, count(*)::BIGINT AS n_ids, min(p_partkey) AS min_id
  FROM part GROUP BY 1
),
pairs AS (
  SELECT CASE WHEN a.min_id < b.min_id THEN a.s ELSE b.s END AS p_name_a,
         CASE WHEN a.min_id < b.min_id THEN b.s ELSE a.s END AS p_name_b,
         CASE WHEN a.min_id < b.min_id THEN a.n_ids ELSE b.n_ids END AS n_a,
         CASE WHEN a.min_id < b.min_id THEN b.n_ids ELSE a.n_ids END AS n_b,
         CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist
  FROM vals a JOIN vals b
    ON a.s < b.s AND abs(length(a.s) - length(b.s)) <= 2
  WHERE levenshtein(a.s, b.s) BETWEEN 1 AND 2
)
SELECT p_name_a, p_name_b, n_a, n_b, dist, (n_a * n_b)::BIGINT AS n_id_pairs
FROM pairs
"""

_register("dedup_edjoin_part_pairs", _edjoin_part_pairs, _DD_EDJOIN_PAIRS)


# --------------------------------------------------------------------------
# Ed-Join blocking-quality audit (round 8, session 2): the fuzzy
# family's recall sweep.  Measures the DEPLOYED candidate generator
# (operators/fuzzy.py::edjoin_candidates — shared code, not a copy)
# against brute-force ground truth and gates BOTH quality metrics:
# pairs_completeness (fraction of true ed<=k pairs surviving blocking —
# the prefix-filter theorem says exactly 1.0, and a blocking regression
# now FAILS CORRECTNESS instead of silently dropping matches) and the
# reduction ratio (fraction of the n^2 comparison space eliminated).
# The oracle replays prefix selection literally — same (df, gram, pos)
# global order, same position/length tolerances, same short block.
# --------------------------------------------------------------------------


def _edjoin_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fuzzy import edjoin_candidates

    part = _t(spark, sf_dir, "part")
    vals = (
        part.groupBy("p_name")
        .agg(F.min("p_partkey").alias("min_id"))
        .localCheckpoint(eager=False)
    )
    cand = edjoin_candidates(vals, "p_name", q=2, k=2)
    a = vals.select(F.col("min_id").alias("_ida"), F.col("p_name").alias("_sa"))
    b = vals.select(F.col("min_id").alias("_idb"), F.col("p_name").alias("_sb"))
    truth = (
        a.join(F.broadcast(b), F.col("_ida") < F.col("_idb"))
        .filter(F.abs(F.length("_sa") - F.length("_sb")) <= 2)
        .withColumn("_d", F.levenshtein("_sa", "_sb"))
        .filter((F.col("_d") >= 1) & (F.col("_d") <= 2))
        .select("_ida", "_idb")
    )
    n_vals = vals.agg(F.count(F.lit(1)).alias("n_values"))
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true_pairs"))
    n_hit = truth.join(cand, ["_ida", "_idb"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        n_vals.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_true))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_values",
            F.expr("n_values * (n_values - 1) div 2").alias("n_possible_pairs"),
            "n_candidates",
            "n_true_pairs",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_true_pairs").cast("double"), 4
            ).alias("pairs_completeness"),
            F.round(
                F.lit(1.0)
                - F.col("n_candidates").cast("double")
                / F.expr("n_values * (n_values - 1) div 2").cast("double"),
                4,
            ).alias("reduction_ratio"),
        )
    )


_DD_EDJOIN_QUALITY = """
WITH vals AS (SELECT p_name AS s, min(p_partkey) AS mid FROM part GROUP BY 1),
grams AS (
  SELECT mid, length(s)::INT AS len, substr(s, i::INT, 2) AS g, i::INT AS pos
  FROM vals, unnest(range(1, length(s))) AS t(i)
),
gdf AS (SELECT g, count(*)::BIGINT AS df FROM grams GROUP BY 1),
pre AS (
  SELECT mid, len, g, pos FROM (
    SELECT grams.*, row_number() OVER (PARTITION BY mid ORDER BY gdf.df, grams.g, grams.pos) AS rn
    FROM grams JOIN gdf USING (g))
  WHERE rn <= 5
),
cand_long AS (
  SELECT DISTINCT a.mid AS ia, b.mid AS ib
  FROM pre a JOIN pre b
    ON a.g = b.g AND a.mid < b.mid
   AND abs(a.pos - b.pos) <= 2 AND abs(a.len - b.len) <= 2
),
cand_small AS (
  SELECT DISTINCT least(a.mid, b.mid) AS ia, greatest(a.mid, b.mid) AS ib
  FROM vals a JOIN vals b
    ON length(a.s) < 6 AND length(b.s) < 6 AND a.mid != b.mid
   AND abs(length(a.s) - length(b.s)) <= 2
),
cand AS (SELECT DISTINCT ia, ib FROM (SELECT * FROM cand_long UNION ALL SELECT * FROM cand_small)),
truth AS (
  SELECT a.mid AS ia, b.mid AS ib
  FROM vals a JOIN vals b
    ON a.mid < b.mid AND abs(length(a.s) - length(b.s)) <= 2
  WHERE levenshtein(a.s, b.s) BETWEEN 1 AND 2
),
m AS (
  SELECT (SELECT count(*)::BIGINT FROM vals) AS n_values,
         (SELECT count(*)::BIGINT FROM cand) AS n_candidates,
         (SELECT count(*)::BIGINT FROM truth) AS n_true_pairs,
         (SELECT count(*)::BIGINT FROM truth t
           WHERE EXISTS (SELECT 1 FROM cand c WHERE c.ia = t.ia AND c.ib = t.ib)) AS n_hit
)
SELECT n_values,
       (n_values * (n_values - 1)) // 2 AS n_possible_pairs,
       n_candidates, n_true_pairs,
       round(n_hit::DOUBLE / n_true_pairs::DOUBLE, 4) AS pairs_completeness,
       round(1.0 - n_candidates::DOUBLE / ((n_values * (n_values - 1)) // 2)::DOUBLE, 4) AS reduction_ratio
FROM m
"""

_register("dedup_edjoin_blocking_quality", _edjoin_blocking_quality, _DD_EDJOIN_QUALITY)


# ==========================================================================
# Winnowing fingerprints (round 9, wave 3) — operators/dedup.py::
# winnow_fingerprints, the MOSS sketch (Schleimer et al. 2003): min
# hash per sliding window of k-gram hashes, rightmost tie, via ONE
# window min over a packed (hash, -pos) key.  The pair report drops
# fingerprints shared by > 10 documents first (the MOSS common-code
# filter — at corpus scale a boilerplate gram would otherwise fan a
# quadratic bucket), so the self-join is bounded per fingerprint.
# ==========================================================================

_WIN_K = 8
_WIN_W = 4
_WIN_MAXDOCS = 10
_WIN_MINSHARED = 2


def _winnow_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= 2 winnowed fingerprints — the MOSS
    overlap report.  Scale shape: linear gram hashing (codegen), one
    bounded per-doc window, then ONE fp groupBy whose frequency-capped
    doc lists generate the pairs inline — never all-pairs, no pair
    join; only (doc_id, fp) longs cross the single corpus-sized
    exchange."""
    from ..operators.dedup import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # The frequency cap (2 <= n_docs <= _WIN_MAXDOCS) bounds every
    # surviving fingerprint's doc list to a handful of ids, so the pair
    # join is unnecessary: ONE groupBy collects the (sorted) doc list
    # per fp and the C(n,2) <= C(10,2) ordered pairs are generated
    # inline.  The corpus-sized fingerprint relation crosses exactly one
    # exchange; the old shape (cap groupBy + cap join per pair side +
    # fp self-join) shuffled it three times (r13 opt — identical pair
    # multiset: sort_array makes doc_a < doc_b enumeration order-free).
    fps = winnow_fingerprints(docs, k=_WIN_K, w=_WIN_W)
    grouped = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("_ds"))
        .filter((F.size("_ds") >= 2) & (F.size("_ds") <= _WIN_MAXDOCS))
    )
    # stage the pair array as an attribute before the explode: Generate
    # re-evaluates a non-attribute generator per OUTPUT row (the
    # decontam pathology) — unstaged, the C(n,2) enumeration would
    # re-run once per emitted pair.  explode_OUTER so the inferred
    # size() filter can't re-inline the enumeration below the Generate;
    # size(_ds) >= 2 already guarantees >= 1 pair, so it is
    # value-identical.
    pairs = grouped.select(
        F.expr(
            "flatten(transform(_ds, (a, i) -> "
            "transform(slice(_ds, i + 2, size(_ds)), "
            "b -> struct(a AS doc_a, b AS doc_b))))"
        ).alias("_pairs")
    ).select(F.explode_outer("_pairs").alias("p"))
    return (
        pairs.select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MINSHARED)
        .orderBy(F.col("n_shared").desc(), "doc_a", "doc_b")
    )


_DD_WINNOW = dd_sql(
    """
WITH n AS (
  SELECT doc_id, trim({norm}) AS t FROM documents WHERE length(trim({norm})) > 0
),
g AS (
  SELECT doc_id,
         greatest(length(t) - {k} + 1, 1) AS np,
         i.i + 1 AS pos,
         {h32} * 1073741824 + (1073741823 - (i.i + 1)) AS key
  FROM n, unnest(range(0, greatest(length(t) - {k} + 1, 1))) AS i(i)
),
wm AS (
  SELECT doc_id, pos, np,
         min(key) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW AND {wm1} FOLLOWING) AS wmin
  FROM g
),
fp AS (
  SELECT DISTINCT doc_id, wmin // 1073741824 AS fp
  FROM wm WHERE pos = 1 OR pos <= np - {wm1}
),
keep AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) BETWEEN 2 AND {maxdocs})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
FROM fp a JOIN keep USING (fp) JOIN fp b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= {minshared}
ORDER BY n_shared DESC, doc_a, doc_b
""",
    norm=dd_sql(_DD_NORMALIZE, col="text"),
    h32=dd_sql(_DD_HASH32, s=f"substr(t, CAST(i.i + 1 AS INTEGER), {_WIN_K})"),
    k=_WIN_K,
    wm1=_WIN_W - 1,
    maxdocs=_WIN_MAXDOCS,
    minshared=_WIN_MINSHARED,
)

_register("dedup_winnow_shared_fp", _winnow_shared, _DD_WINNOW)


# ==========================================================================
# Content-defined chunk dedup (round 9, wave 3) — operators/dedup.py::
# cdc_chunks: Rabin-style rolling boundaries (hash of the trailing
# 16-gram = 0 mod 64), so shared spans between near-identical documents
# chunk identically regardless of where edits shifted the text.  The
# report is the cross-document duplicate-chunk table — what a
# chunk-store dedup layer would actually persist.
# ==========================================================================

_CDC_W = 16
_CDC_MOD = 64


def _cdc_chunk_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 chunks (by document reach) appearing in >= 2 documents
    after content-defined chunking.  Scale shape: one hash per
    character (codegen, linear in corpus bytes), a per-doc lag window,
    then a partial-agg groupBy on the 16-byte chunk hash — text never
    crosses an exchange."""
    from ..operators.dedup import cdc_chunks

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = cdc_chunks(docs, w=_CDC_W, modulus=_CDC_MOD)
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.min("chunk_len").alias("chunk_len"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("n_occurrences").desc(), "chunk_hash")
        .limit(50)
    )


_DD_CDC = dd_sql(
    """
WITH n AS (
  SELECT doc_id, trim({norm}) AS t FROM documents WHERE length(trim({norm})) > 0
),
ends AS (
  SELECT doc_id, t,
         list_sort(list_distinct(list_append(
           list_filter(range({w}, length(t) + 1),
                       p -> {h32} % {mod} = 0),
           length(t)::BIGINT))) AS es
  FROM n
),
ex AS (SELECT doc_id, t, e.e AS endp FROM ends, unnest(es) AS e(e)),
chunks AS (
  SELECT doc_id, t, endp,
         coalesce(lag(endp) OVER (PARTITION BY doc_id ORDER BY endp), 0) + 1 AS chunk_pos
  FROM ex
),
hashed AS (
  SELECT doc_id,
         (endp - chunk_pos + 1)::BIGINT AS chunk_len,
         md5(substr(t, CAST(chunk_pos AS INTEGER), CAST(endp - chunk_pos + 1 AS INTEGER))) AS chunk_hash
  FROM chunks
)
SELECT chunk_hash, min(chunk_len)::BIGINT AS chunk_len,
       count(DISTINCT doc_id)::BIGINT AS n_docs, count(*)::BIGINT AS n_occurrences
FROM hashed GROUP BY chunk_hash
HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occurrences DESC, chunk_hash
LIMIT 50
""",
    norm=dd_sql(_DD_NORMALIZE, col="text"),
    h32=dd_sql(_DD_HASH32, s=f"substr(t, CAST(p - {_CDC_W - 1} AS INTEGER), {_CDC_W})"),
    w=_CDC_W,
    mod=_CDC_MOD,
)

_register("dedup_cdc_chunk_dupes", _cdc_chunk_dupes, _DD_CDC)
