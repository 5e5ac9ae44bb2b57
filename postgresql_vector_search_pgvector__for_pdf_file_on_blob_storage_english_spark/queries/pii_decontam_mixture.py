# Auto-split from the monolithic queries.py (VERDICT r5 #9);
# registration side effects run at import, in package order.
from __future__ import annotations

from ._base import (  # noqa: F401
    DataFrame,
    _drain,
    F,
    SparkSession,
    _DD_NORMALIZE,
    _events,
    _register,
    _t,
    dd_sql,
    knn_join,
)
from .dedup import _dd_shingles  # noqa: F401
from .flagship_knn import _DD_KNN_BATCH  # noqa: F401
from .quant_search import _DD_SQ8  # noqa: F401
# PII redaction (round 4) — training-data scrubbing stage; the fixtures
# carry no PII, so the query weaves deterministic synthetic PII (email,
# phone, IPv4 keyed on doc_id) into every third document IDENTICALLY on
# both sides, then redacts and counts.  functions/pii.py documents the
# Java-regex/RE2 portable-pattern constraint.
# ==========================================================================

from ..functions.pii import PII_PATTERNS, redact_pii  # noqa: E402


def _pii_weave(docs: DataFrame) -> DataFrame:
    did = F.col("doc_id")
    woven = F.concat(
        F.col("text"),
        F.lit(" contact user"), did.cast("string"), F.lit("@example.com or +1-555-"),
        F.lpad((did % 1000).cast("string"), 3, "0"), F.lit("-"),
        F.lpad((did % 10000).cast("string"), 4, "0"),
        F.lit(" at 10.0."), (did % 256).cast("string"), F.lit("."),
        ((did * 7) % 256).cast("string"),
    )
    return docs.withColumn(
        "text", F.when(did % 3 == 0, woven).otherwise(F.col("text"))
    )


def _pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _pii_weave(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    out = redact_pii(docs)
    return out.select(
        "doc_id", "n_emails", "n_phones", "n_ips",
        F.md5(F.col("redacted")).alias("red_md5"),
        F.length("redacted").alias("red_len"),
    )


_DD_PII = dd_sql(
    """
WITH woven AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
           text || ' contact user' || doc_id || '@example.com or +1-555-'
                || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-'
                || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                || ' at 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
         ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{email}')) AS n_emails,
       len(regexp_extract_all(text, '{phone}')) AS n_phones,
       len(regexp_extract_all(text, '{ipv4}')) AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '{email}', '<EMAIL>', 'g'),
           '{phone}', '<PHONE>', 'g'),
           '{ipv4}', '<IP>', 'g')) AS red_md5,
       length(regexp_replace(regexp_replace(regexp_replace(text,
           '{email}', '<EMAIL>', 'g'),
           '{phone}', '<PHONE>', 'g'),
           '{ipv4}', '<IP>', 'g')) AS red_len
FROM woven
""",
    email=PII_PATTERNS["email"][0],
    phone=PII_PATTERNS["phone"][0],
    ipv4=PII_PATTERNS["ipv4"][0],
)

_register("text_pii_redaction", _pii_redaction, _DD_PII)


def _stream_pii_scrub_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PII scrub executed through Structured Streaming (VERDICT r4
    item 7): ``readStream`` over the documents fixture, the SAME weave +
    redact transformation as ``text_pii_redaction``, ``writeStream`` to
    a parquet sink with ``Trigger.AvailableNow``, then the sink is read
    back and oracle-checked against the identical batch SQL — proving
    the streaming CODEPATH end to end, not just its batch twin.

    Stateless narrow transforms run unchanged under streaming (SURVEY
    §2.5: the reference's trigger model is exactly this arrival-driven,
    stateless shape).  Sink + checkpoint are wiped per run so the replay
    is deterministic."""
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_stream_pii_{tag}_{os.getpid()}")
    sink, ckpt = os.path.join(base, "sink"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    # FileStreamSource requires a *directory*; the fixture is one file,
    # so stream the fixture dir with a glob pinned to that file.
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .select("doc_id", "text")
    )
    scrubbed = redact_pii(_pii_weave(stream)).select(
        "doc_id", "n_emails", "n_phones", "n_ips",
        F.md5(F.col("redacted")).alias("red_md5"),
        F.length("redacted").alias("red_len"),
    )
    q = (
        scrubbed.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.read.parquet(sink)


_register("stream_pii_scrub_replay", _stream_pii_scrub_replay, _DD_PII)


def _stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL streaming gated by the oracle: the documents fixture is
    split into 4 range files and streamed with ``maxFilesPerTrigger=1``,
    so the cross-batch seen-set in ``streaming_exact_dedup``
    (applyInPandasWithState) is genuinely exercised across 4
    micro-batches.  The sink is then aggregated per fingerprint to the
    batch-split-independent invariants:

    * ``n_docs`` = final ``n_seen`` — the state must accumulate to the
      TRUE total occurrence count across batches;
    * ``n_new_flags`` = sum(is_new) — ``is_new`` must fire exactly once
      per fingerprint ever, whatever the batch boundaries.

    Both equal what one batch SQL over the raw table computes — that SQL
    is the oracle."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..streaming.dedup_stream import streaming_exact_dedup

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_stream_dedup_{tag}_{os.getpid()}")
    src = os.path.join(base, "src")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    # Weave exact duplicates (same text, offset id, every 50th doc) so
    # the stream genuinely hits the seen-set across batch boundaries —
    # the raw fixture's 500 texts are all distinct.
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    woven = docs.unionByName(
        docs.filter(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    woven.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_exact_dedup(stream)

    def _append(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink)

    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(_append)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)

    return (
        spark.read.parquet(sink)
        .groupBy("fingerprint")
        .agg(
            F.max("n_seen").alias("n_docs"),
            F.sum(F.col("is_new").cast("long")).alias("n_new_flags"),
        )
    )


_DD_STREAM_DEDUP = dd_sql(
    """
WITH woven AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
),
n AS (SELECT doc_id, md5({norm}) AS fingerprint FROM woven)
SELECT fingerprint, count(*) AS n_docs, 1::BIGINT AS n_new_flags
FROM n GROUP BY fingerprint
""",
    norm=dd_sql(_DD_NORMALIZE, col="text"),
)

_register("stream_dedup_replay", _stream_dedup_replay, _DD_STREAM_DEDUP)


def _stream_knn_serve_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN *serving* through Structured Streaming: queries ARRIVE as a
    stream — the reference's query side is exactly this shape, one user
    request at a time against a static vector table
    (SSEOpenAIController.java:302-308) — and each micro-batch is scored
    with the SAME ``knn_join`` the batch path uses, against the static
    corpus.  The 8 probe vectors are split into 4 files streamed with
    ``maxFilesPerTrigger=1``, so at least 4 independent micro-batches
    each run the broadcast-queries KNN; per-query top-k is appended to a
    parquet sink, and the sink is oracle-checked against the identical
    batch SQL (``_DD_KNN_BATCH``) — valid because every query lands in
    exactly one micro-batch, so the union of per-batch top-k IS the
    batch answer.

    100 TB shape: the corpus never moves — each micro-batch broadcasts
    only the arrived queries into the corpus scan, which is the
    continuous-serving plan you'd run on a cluster (static side cached,
    stream side tiny)."""
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_stream_knn_{tag}_{os.getpid()}")
    src = os.path.join(base, "src")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    emb = _t(spark, sf_dir, "embeddings")
    emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("query_id long, query_vec array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def _serve(batch_df: DataFrame, _batch_id: int) -> None:
        out = knn_join(emb, batch_df, k=3, payload_cols=["vec_id", "label"])
        out.select(
            "query_id", "rank", "vec_id", "label",
            F.round("distance", 4).alias("distance"),
        ).write.mode("append").parquet(sink)

    q = (
        stream.writeStream.foreachBatch(_serve)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.read.parquet(sink)


_register("stream_knn_serve_replay", _stream_knn_serve_replay, _DD_KNN_BATCH)


def _stream_rollup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance through the driver
    gate: the hourly rollup kept up to date by a WATERMARKED streaming
    aggregation in ``update`` mode (streaming/windowed.py::
    run_hourly_rollup_incremental) — each micro-batch appends only the
    (hour, event_type) rows it changed, ``read_rollup`` resolves
    last-write-wins, and the resolved view must equal the batch rollup
    (the oracle).  Events stream in 4 micro-batches; the replay uses a
    fixture-spanning watermark so the equality is exact (a production
    deployment narrows it to bound state, trading exactness on
    later-than-watermark stragglers — the documented watermark
    contract)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from ..streaming.windowed import read_rollup, run_hourly_rollup_incremental

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_stream_rollup_{tag}_{os.getpid()}")
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "props", "ts"
    )
    ev.repartition(4).write.parquet(src)
    q = run_hourly_rollup_incremental(
        spark, src, out, ckpt, watermark="90 days", max_files_per_trigger=1
    )
    _drain(q, 300)
    return read_rollup(spark, out)


_register(
    "stream_rollup_replay",
    _stream_rollup_replay,
    """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
""",
)


def _sq8_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same probe/contract as ``quant_sq8_knn_top5`` but through the
    *persisted* codes table: coarse stage scans only (id, label, scale,
    code) — the 4x-smaller artifact — and the exact rerank re-reads just
    the candidate rows from the corpus via a pushed ``isin`` filter
    (operators/quant.py::sq8_index_search).  Same oracle by construction."""
    import hashlib
    import os
    import tempfile

    from ..operators.quant import sq8_index_search, sq8_index_write

    emb = _t(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_sq8_index_{tag}_{os.getpid()}")
    sq8_index_write(emb, path, payload_cols=["label"])
    q = list(emb.filter(F.col("vec_id") == 5).first()["embedding"])
    out = sq8_index_search(
        spark, path, emb, q, k=5, oversample=10, payload_cols=["label"]
    )
    return out.select("vec_id", "label", F.round("distance", 4).alias("distance"))


_register("quant_sq8_index_search", _sq8_index_search, _DD_SQ8)


def _sq8_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVING-path twin of ``quant_sq8_index_search`` (VERDICT r8 #3):
    the 4x-smaller codes artifact is built once if absent (stable path,
    no pid — the probe entry wants cross-run reuse over the static
    fixtures), so the benched latency is the coarse codes scan + pushed
    isin exact rerank alone.  Same oracle as the build-inclusive
    entry."""
    import hashlib
    import os
    import tempfile

    from ..operators.quant import sq8_index_search, sq8_index_write

    emb = _t(spark, sf_dir, "embeddings")
    params = "sq8_v1"
    tag = hashlib.md5(f"{sf_dir}|{params}".encode()).hexdigest()[:8]
    path = os.path.join(tempfile.gettempdir(), f"spark_graft_sq8_probe_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        sq8_index_write(emb, path, payload_cols=["label"])
    q = list(emb.filter(F.col("vec_id") == 5).first()["embedding"])
    out = sq8_index_search(
        spark, path, emb, q, k=5, oversample=10, payload_cols=["label"]
    )
    return out.select("vec_id", "label", F.round("distance", 4).alias("distance"))


_register("quant_sq8_probe", _sq8_probe, _DD_SQ8)


# ==========================================================================
# Benchmark decontamination (round 4) — n-gram leakage guard between a
# train corpus and a benchmark set (operators/decontam.py).  Benchmark =
# every 50th doc; the fixture's planted duplicate documents make the
# expected contamination hits nonzero and deterministic.
# ==========================================================================

from ..functions.hashing import stable_hash60_sql  # noqa: E402
from ..operators.decontam import contamination_flags  # noqa: E402

_DECONTAM_N = 8


def _decontam_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return contamination_flags(train, bench, n=_DECONTAM_N).orderBy("doc_id")


_DD_DECONTAM = dd_sql(
    """
WITH w AS (
  SELECT doc_id, trim(norm) AS norm_text, string_split(trim(norm), ' ') AS words
  FROM (SELECT doc_id, {norm} AS norm FROM documents)
),
sh AS (SELECT doc_id, {shingles} AS shingles FROM w),
bench AS (
  SELECT DISTINCT {h} AS gram_h
  FROM (SELECT unnest(shingles) AS s FROM sh WHERE doc_id % 50 = 0)
),
train_grams AS (
  SELECT doc_id, {h} AS gram_h
  FROM (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 50 != 0)
),
hits AS (
  SELECT doc_id, count(*) AS n_hits
  FROM train_grams JOIN bench USING (gram_h) GROUP BY doc_id
)
SELECT t.doc_id, len(t.shingles) AS n_grams,
       coalesce(h.n_hits, 0) AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM sh t LEFT JOIN hits h USING (doc_id)
WHERE t.doc_id % 50 != 0
ORDER BY t.doc_id
""",
    norm=dd_sql(_DD_NORMALIZE, col="text"),
    shingles=_dd_shingles("norm_text", _DECONTAM_N, words="words"),
    h=stable_hash60_sql("s"),
)

_register("decontam_ngram_overlap", _decontam_flags, _DD_DECONTAM)


def _stream_decontam_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination as a STREAMING stage: train documents arrive in 4
    micro-batches and each batch is flagged against the static benchmark
    set via foreachBatch — the shape a continuously-ingesting corpus
    runs (benchmark grams are a fixed broadcast side; per-doc flags are
    batch-independent, so the drained sink equals the batch operator,
    gated by the identical oracle)."""
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(tempfile.gettempdir(), f"spark_graft_stream_decontam_{tag}_{os.getpid()}")
    src = os.path.join(base, "src")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    docs.filter(F.col("doc_id") % 50 != 0).repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def _flag(batch_df: DataFrame, _batch_id: int) -> None:
        contamination_flags(batch_df, bench, n=_DECONTAM_N).write.mode(
            "append"
        ).parquet(sink)

    q = (
        stream.writeStream.foreachBatch(_flag)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 300)
    return spark.read.parquet(sink)


_register("stream_decontam_replay", _stream_decontam_replay, _DD_DECONTAM)


# ==========================================================================
# Mixture sampling (round 4) — per-source deterministic subsampling to a
# target training mixture (operators/groupwise.py::mixture_sample).
# ==========================================================================

from ..operators.groupwise import mixture_sample  # noqa: E402

_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.055}
_MIX_DEFAULT = 0.10


def _mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = mixture_sample(docs, _MIX_RATES, default_rate=_MIX_DEFAULT)
    return out.select("doc_id", "source")


_DD_MIX_CASE = " ".join(
    f"WHEN '{s}' THEN {int(round(r * 10000))}"
    for s, r in sorted(_MIX_RATES.items())
)

_register(
    "mixture_sample_docs",
    _mixture_sample_docs,
    dd_sql(
        """
SELECT doc_id, source FROM documents
WHERE (('0x' || substr(md5('mixture' || '§' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000)
      < (CASE source {cases} ELSE {dflt} END)
""",
        cases=_DD_MIX_CASE,
        dflt=int(round(_MIX_DEFAULT * 10000)),
    ),
)


# ==========================================================================
# Temperature-scaled mixture (round 7) — the UniMax/multilingual rate
# law r_g = (cmin/c_g)^(1-1/T) at the gated T=2, where the exponent is
# 1/2 and the whole rate expression is IEEE-correctly-rounded sqrt +
# division — bit-identical across engines; rates quantize to basis
# points BEFORE the stable-hash filter (operators/groupwise.py::
# temperature_mixture_sample).  Non-vacuous on the skewed lang column
# (en dominates ~3:1).
# ==========================================================================


def _sample_temperature_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.groupwise import temperature_mixture_sample, temperature_rates

    docs = _t(spark, sf_dir, "documents")
    rates = temperature_rates(docs, "lang", temperature=2.0)
    kept = (
        temperature_mixture_sample(docs, "lang", temperature=2.0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang", "n_docs", "rate_bp",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        )
        .orderBy("lang")
    )


_register(
    "sample_temperature_lang",
    _sample_temperature_lang,
    """
WITH c AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1),
m AS (SELECT min(n_docs)::BIGINT AS cmin FROM c),
r AS (
  SELECT lang, n_docs,
         CAST(floor(sqrt(CAST(cmin AS DOUBLE) / CAST(n_docs AS DOUBLE)) * 10000) AS BIGINT) AS rate_bp
  FROM c, m
),
k AS (
  SELECT d.lang, count(*)::BIGINT AS n_kept
  FROM documents d JOIN r ON d.lang = r.lang
  WHERE (('0x' || substr(md5('tmix' || '§' || d.doc_id::VARCHAR), 1, 8))::BIGINT % 10000) < r.rate_bp
  GROUP BY 1
)
SELECT r.lang, r.n_docs, r.rate_bp, coalesce(k.n_kept, 0) AS n_kept
FROM r LEFT JOIN k USING (lang)
ORDER BY lang
""",
)


# ==========================================================================
# Per-source quota cap (round 5) — the "domain cap" corpus stage:
# at most N docs per source, selected by stable-hash rank so the
# survivor set is deterministic and monotone in the cap
# (operators/groupwise.py::source_cap).
# ==========================================================================

from ..operators.groupwise import source_cap  # noqa: E402

_CAP_N = 10
_CAP_SALT = "cap"


def _source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep <= 10 docs per source (fixtures carry 25/source at every sf,
    so the cap bites everywhere — no vacuous gate).  One shuffle keyed
    on source; selection order is the engine stable-hash convention."""
    docs = _t(spark, sf_dir, "documents")
    out = source_cap(docs, cap=_CAP_N, salt=_CAP_SALT)
    return out.select("doc_id", "source")


_register(
    "source_cap_sample",
    _source_cap_sample,
    dd_sql(
        """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5('{salt}' || '§' || doc_id::VARCHAR), 1, 8))::BIGINT,
                    doc_id
         ) AS r
  FROM documents
) WHERE r <= {cap}
""",
        salt=_CAP_SALT,
        cap=_CAP_N,
    ),
)


# ==========================================================================


# --------------------------------------------------------------------------
# Streaming sessionization replay (round 10) — streaming/
# sessionize_stream.py.  The canonical custom stateful operator: the
# per-user (last_ts, session_start) survives micro-batch boundaries in
# the state store, so a session SPANNING batches is stitched, not
# split.  The source is split into 4 DISJOINT TIME RANGES streamed
# with maxFilesPerTrigger=1 (a log-structured ingest's arrival order),
# which forces cross-batch sessions; the gate folds the per-event sink
# to sessions and must equal the one-shot batch sessionization SQL
# row-for-row.
# --------------------------------------------------------------------------


def _stream_sessionize_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil
    import tempfile

    from ..streaming.sessionize_stream import streaming_sessionize

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(
        tempfile.gettempdir(), f"spark_graft_stream_sess_{tag}_{os.getpid()}"
    )
    src, sink, ckpt = (os.path.join(base, d) for d in ("src", "sink", "ckpt"))
    shutil.rmtree(base, ignore_errors=True)

    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts")
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    span = (hi - lo) + 1
    # Spark's file stream orders NEW files by modification time; four
    # writes can land in the same ms and reorder batches, violating the
    # per-user event-time-order precondition the emission contract
    # needs (ADVICE r10).  Pin arrival order = time order by touching
    # every data file with strictly increasing mtimes.
    epoch = None
    for i in range(4):
        a = lo + (span * i) // 4
        b = lo + (span * (i + 1)) // 4
        ev.filter(
            (F.unix_micros("ts") >= a) & (F.unix_micros("ts") < b)
        ).coalesce(1).write.parquet(f"{src}/f{i}")
        for root, _dirs, files in os.walk(f"{src}/f{i}"):
            for fn in files:
                p = os.path.join(root, fn)
                if epoch is None:
                    epoch = os.stat(p).st_mtime
                os.utime(p, (epoch + i, epoch + i))

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    out = streaming_sessionize(stream)

    def _append(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink)

    q = (
        out.writeStream.outputMode("update")
        .foreachBatch(_append)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 180)

    labeled = spark.read.parquet(sink)
    return (
        labeled.groupBy("user_id", "session_start_us")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts_us").alias("session_end_us"),
        )
        .orderBy("user_id", "session_start_us")
    )


_DD_STREAM_SESS = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
),
flagged AS (
  SELECT user_id, event_id, ts_us,
         CASE WHEN ts_us - lag(ts_us) OVER w IS NULL
                OR ts_us - lag(ts_us) OVER w > 1800000000
              THEN 1 ELSE 0 END AS _new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
),
sess AS (
  SELECT user_id, ts_us,
         sum(_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id, min(ts_us)::BIGINT AS session_start_us,
       count(*)::BIGINT AS n_events,
       max(ts_us)::BIGINT AS session_end_us
FROM sess GROUP BY user_id, sid
ORDER BY user_id, session_start_us
"""

_register("stream_sessionize_replay", _stream_sessionize_replay, _DD_STREAM_SESS)


# ==========================================================================
# Water-filling token-budget allocation (round 13, VERDICT r12 item 7) —
# operators/groupwise.py::waterfill_budget.  The mixture entries above
# choose RATES; this entry spends an absolute budget: given per-source
# available tokens (the ~4-chars/token estimate, integer-exact
# (n_chars + 3) div 4) and T = 40% of the corpus's total tokens,
# max-min-fair allocation keeps small sources whole and clips the big
# crawls to a common level, with sum(alloc) == T exactly (remainder
# tokens go to the first unsaturated sources in rank order).  All
# integer math; the unique pivot rank comes from global_rank prefix
# sums — no windows on the Spark side.  The DuckDB oracle derives the
# same pivot from NATIVE row_number/lag/prefix windows (independent
# cumulation path).
# ==========================================================================

from ..operators.groupwise import waterfill_budget  # noqa: E402


def _waterfill_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.expr("sum((n_chars + 3) div 4)").alias("avail")
    )
    return waterfill_budget(per, budget_num=4, budget_den=10).orderBy("source")


_DD_WATERFILL = """
WITH per AS (
  SELECT source, sum((n_chars + 3) // 4)::BIGINT AS avail
  FROM documents GROUP BY 1
),
tot AS (
  SELECT sum(avail)::BIGINT AS total, count(*)::BIGINT AS n,
         CAST((4 * sum(avail)) // 10 AS BIGINT) AS t_budget
  FROM per
),
ranked AS (
  SELECT source, avail,
         row_number() OVER (ORDER BY avail, source) AS r,
         CAST(coalesce(sum(avail) OVER (ORDER BY avail, source
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS pre,
         CAST(coalesce(lag(avail) OVER (ORDER BY avail, source), 0) AS BIGINT)
           AS pavail
  FROM per
),
cand AS (
  SELECT ranked.*, tot.total, tot.n, tot.t_budget,
         CAST((t_budget - pre) // (n - r + 1) AS BIGINT) AS lvl,
         CAST((t_budget - pre) % (n - r + 1) AS BIGINT) AS rem
  FROM ranked, tot
),
piv AS (
  SELECT max(r) AS pivot_rank, max(lvl) AS plevel, max(rem) AS prem
  FROM cand
  WHERE t_budget < total AND lvl >= pavail AND lvl < avail
)
SELECT c.source, c.avail AS avail_tokens,
       CAST(CASE WHEN p.pivot_rank IS NULL THEN c.avail
            WHEN c.r < p.pivot_rank THEN c.avail
            ELSE p.plevel + CASE WHEN c.r - p.pivot_rank + 1 <= p.prem
                                 THEN 1 ELSE 0 END
       END AS BIGINT) AS alloc_tokens,
       CAST(CASE WHEN p.pivot_rank IS NULL OR c.r < p.pivot_rank
            THEN 1 ELSE 0 END AS BIGINT) AS saturated
FROM cand c LEFT JOIN piv p ON TRUE
ORDER BY c.source
"""

_register("train_waterfill_token_budget", _waterfill_token_budget, _DD_WATERFILL)
