"""Streaming dedup with cross-batch state."""

from __future__ import annotations

from pyspark.sql import functions as F


class TestStreamingDedup:
    def test_seen_state_spans_batches(self, spark, tmp_path):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.streaming.dedup_stream import (
            streaming_exact_dedup,
        )

        src = str(tmp_path / "src")
        # batch 0: docs 1,2 (distinct); batch 1: doc 3 = duplicate of 1, doc 4 new
        b0 = spark.createDataFrame([(1, "hello world"), (2, "other text")], "doc_id long, text string")
        b1 = spark.createDataFrame([(3, "hello  world"), (4, "fresh text")], "doc_id long, text string")
        b0.coalesce(1).write.parquet(f"{src}/f0")
        b1.coalesce(1).write.parquet(f"{src}/f1")

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        out = streaming_exact_dedup(stream)
        sink = str(tmp_path / "sink")

        def append(batch_df, batch_id):
            batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(sink)

        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(append)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

        rows = spark.read.parquet(sink).collect()
        # duplicate fingerprint (docs 1 & 3 normalize identically): the
        # second sighting must NOT be flagged new, and n_seen reaches 2
        dup = [r for r in rows if r["n_seen"] == 2]
        assert len(dup) == 1
        assert dup[0]["is_new"] is False
        assert dup[0]["first_doc_id"] == 1
        # three distinct fingerprints were new exactly once
        assert sum(1 for r in rows if r["is_new"]) == 3


class TestStreamingIncrementalDedup:
    """Persisted-state corpus admission (streaming/
    incremental_dedup_stream.py, r9): later micro-batches must see
    earlier batches' admissions as corpus."""

    def test_cross_batch_admission_is_exactly_once(self, spark, tmp_path):
        import os

        from pyspark.sql import functions as F

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.streaming.incremental_dedup_stream import (
            seed_state,
            stream_admit_documents,
        )

        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        sink = str(tmp_path / "sink")
        ckpt = str(tmp_path / "ckpt")

        base = spark.createDataFrame(
            [(1, "corpus text one"), (2, "corpus text two")],
            "doc_id long, text string",
        )
        seed_state(base, state)

        # two files -> two micro-batches; 'fresh text' appears in BOTH,
        # 'corpus text one' arrives again, and an in-batch dup too
        spark.createDataFrame(
            [(10, "fresh text"), (11, "fresh text"), (12, "corpus text one")],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)
        spark.createDataFrame(
            [(20, "fresh text"), (21, "brand new text")],
            "doc_id long, text string",
        ).coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = stream_admit_documents(stream, state, sink, ckpt)
        q.awaitTermination(120)

        out = spark.read.parquet(sink)
        per_fp = {
            r["fingerprint"]: (r["n"], r["n_new"])
            for r in out.groupBy("fingerprint").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("status") == "new").cast("long")).alias("n_new"),
            ).collect()
        }
        # every fingerprint admitted at most once, 'fresh text' exactly
        # once across its 3 occurrences, the base dup never
        assert sorted(per_fp.values()) == sorted([(3, 1), (1, 0), (1, 1)])
        # the state table ends with base + the two admissions
        n_state = spark.read.parquet(state).select("fingerprint").distinct().count()
        assert n_state == 4
        # and doc 12 (base dup) was classified dup_of_base
        st = {r["doc_id"]: r["status"] for r in out.collect()}
        assert st[12] == "dup_of_base"
        assert os.path.exists(os.path.join(state, "_SUCCESS"))
