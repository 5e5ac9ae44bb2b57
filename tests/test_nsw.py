"""Sharded NSW graph ANN (operators/nsw.py): build invariants,
determinism, exact-distance contract, self-query, and measured recall.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
    nsw_build,
    nsw_search,
)

SF = "/root/testdata/sf0.001"
M, EF = 8, 32


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def graph(spark, emb):
    g = nsw_build(emb, n_shards=4, m=M, ef_construction=EF).localCheckpoint()
    g.count()
    return g


@pytest.fixture(scope="module")
def np_corpus(emb):
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array(sorted(r["vec_id"] for r in rows))
    by_id = {r["vec_id"]: r["embedding"] for r in rows}
    mat = np.array([by_id[int(i)] for i in ids], dtype=np.float64)
    return ids, mat


def test_graph_covers_corpus_and_respects_degree_bound(graph, emb):
    rows = graph.collect()
    assert {r["vec_id"] for r in rows} == {
        r["vec_id"] for r in emb.select("vec_id").collect()
    }
    assert all(len(r["neighbors"]) <= M for r in rows)
    # no self-loop, no cross-shard edge, symmetric adjacency per shard
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], {})[r["vec_id"]] = set(r["neighbors"])
    for shard, adj in by_shard.items():
        for node, nbrs in adj.items():
            assert node not in nbrs
            for nb in nbrs:
                assert nb in adj, f"edge {node}->{nb} leaves shard {shard}"
                assert node in adj[nb], f"edge {node}->{nb} not symmetric"


def test_build_is_deterministic(emb):
    a = nsw_build(emb, n_shards=4, m=M, ef_construction=EF).collect()
    b = nsw_build(emb, n_shards=4, m=M, ef_construction=EF).collect()
    canon = lambda rows: sorted(
        (r["shard"], r["vec_id"], tuple(r["neighbors"])) for r in rows
    )
    assert canon(a) == canon(b)


def test_search_returns_exact_distances_and_finds_self(graph, np_corpus):
    ids, mat = np_corpus
    qid = 7
    q = mat[ids == qid][0]
    got = nsw_search(graph, list(q), k=5, ef_search=EF).collect()
    assert len(got) == 5
    # distances ascending, exact L2 for each returned id
    ds = [r["distance"] for r in got]
    assert ds == sorted(ds)
    for r in got:
        expect = float(np.linalg.norm(mat[ids == r["vec_id"]][0] - q))
        assert abs(r["distance"] - expect) < 1e-9
    assert got[0]["vec_id"] == qid and got[0]["distance"] == 0.0


def test_recall_at_5_beats_floor(graph, np_corpus):
    """Measured recall@5 over 10 corpus-member queries vs exact top-5.
    Deterministic (build and search are), so the floor is a regression
    pin, not a flaky statistical bound."""
    ids, mat = np_corpus
    qids = [int(i) for i in ids if i % 53 == 11]
    hits = 0
    for qid in qids:
        q = mat[ids == qid][0]
        d = np.linalg.norm(mat - q, axis=1)
        exact = set(ids[np.lexsort((ids, d))[:5]].tolist())
        got = {r["vec_id"] for r in nsw_search(graph, list(q), k=5, ef_search=EF).collect()}
        hits += len(got & exact)
    recall = hits / (5 * len(qids))
    assert recall >= 0.8, f"recall@5 {recall}"


class TestNswIndex:
    def test_persisted_parity(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            nsw_build,
            nsw_index_search,
            nsw_index_write,
            nsw_search,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        graph = nsw_build(emb, n_shards=4, m=8, ef_construction=32)
        path = str(tmp_path / "nsw_idx")
        nsw_index_write(graph, path)

        back = spark.read.parquet(path)
        assert set(back.columns) == {"vec_id", "embedding", "neighbors", "shard"}
        assert back.count() == emb.count()
        # one directory per shard
        import glob

        assert len(glob.glob(f"{path}/shard=*")) == 4

        q = emb.filter(F.col("vec_id") == 9).first()["embedding"]
        got = nsw_index_search(spark, path, list(q), k=5, ef_search=32).collect()
        want = nsw_search(graph, list(q), k=5, ef_search=32).collect()
        assert [(r["vec_id"], round(r["distance"], 6)) for r in got] == [
            (r["vec_id"], round(r["distance"], 6)) for r in want
        ]


class TestHnsw:
    """Hierarchical layer (r7): level ladder, per-layer invariants,
    descent correctness, determinism, persisted round-trip."""

    @pytest.fixture(scope="class")
    def hgraph(self, spark, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_build,
        )

        g = hnsw_build(emb, n_shards=4, m=M, ef_construction=EF).localCheckpoint()
        g.count()
        return g

    def test_levels_are_geometric_and_deterministic(self, hgraph, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            _hnsw_level,
        )

        rows = hgraph.select("vec_id", "level").collect()
        assert len(rows) == emb.count()
        hist = {}
        for r in rows:
            hist[r["level"]] = hist.get(r["level"], 0) + 1
            assert r["level"] == _hnsw_level(r["vec_id"], 3, 4)
        # ladder: each level ~1/4 of the previous, strictly decreasing
        assert hist[0] > hist.get(1, 0) > hist.get(2, -1)

    def test_layer_adjacency_structure(self, hgraph):
        rows = hgraph.collect()
        by_id = {r["vec_id"]: r for r in rows}
        for r in rows:
            # one adjacency list per layer 0..level
            assert len(r["neighbors"]) == r["level"] + 1
            for layer, nbrs in enumerate(r["neighbors"]):
                assert len(nbrs) <= M
                for nb in nbrs:
                    o = by_id[nb]
                    # a layer-l edge can only point at a level>=l node,
                    # and must be symmetric within the layer
                    assert o["level"] >= layer
                    assert r["vec_id"] in o["neighbors"][layer]

    def test_search_matches_exact_topk(self, spark, hgraph, np_corpus):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_search,
        )

        ids, mat = np_corpus
        for probe in (0, 5, 123):
            q = mat[ids == probe][0]
            d = np.linalg.norm(mat - q, axis=1)
            order = np.lexsort((ids, d))[:5]
            want = [(int(ids[i]), round(float(d[i]), 4)) for i in order]
            got = [
                (r["vec_id"], round(r["distance"], 4))
                for r in hnsw_search(hgraph, list(q), k=5, ef_search=EF).collect()
            ]
            assert got == want, probe

    def test_build_is_deterministic(self, spark, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_build,
        )

        def canon(g):
            return sorted(
                (r["vec_id"], r["level"], tuple(tuple(l) for l in r["neighbors"]))
                for r in g.collect()
            )

        a = canon(hnsw_build(emb, n_shards=4, m=M, ef_construction=EF))
        b = canon(hnsw_build(emb, n_shards=4, m=M, ef_construction=EF))
        assert a == b

    def test_persisted_round_trip(self, spark, hgraph, np_corpus, tmp_path):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_index_search,
            hnsw_search,
            nsw_index_write,
        )

        ids, mat = np_corpus
        path = str(tmp_path / "hnsw")
        nsw_index_write(hgraph, path)
        q = mat[ids == 5][0]
        live = [
            (r["vec_id"], round(r["distance"], 4))
            for r in hnsw_search(hgraph, list(q), k=5, ef_search=EF).collect()
        ]
        persisted = [
            (r["vec_id"], round(r["distance"], 4))
            for r in hnsw_index_search(spark, path, list(q), k=5, ef_search=EF).collect()
        ]
        assert persisted == live

    def test_batch_repeated_query_id_raises(self, spark, hgraph, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_search_join,
        )

        # two different queries sharing an id would share one window
        queries = emb.filter(F.col("vec_id") < 2).select(
            F.lit(7).cast("long").alias("query_id"), F.col("embedding").alias("query_vec")
        )
        with pytest.raises(ValueError, match="query_id 7 repeats"):
            hnsw_search_join(hgraph, queries, k=1, ef_search=EF)


class TestHnswBatch:
    def test_batch_matches_single_query_walks(self, spark, emb):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_build,
            hnsw_search,
            hnsw_search_join,
        )

        g = hnsw_build(emb, n_shards=4, m=M, ef_construction=EF).localCheckpoint()
        g.count()
        queries = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        batch = {
            (r["query_id"], r["rank"]): (r["vec_id"], round(r["distance"], 4))
            for r in hnsw_search_join(g, queries, k=5, ef_search=EF).collect()
        }
        for r in queries.collect():
            single = hnsw_search(
                g, list(r["query_vec"]), k=5, ef_search=EF
            ).collect()
            for rank, row in enumerate(single, 1):
                assert batch[(r["query_id"], rank)] == (
                    row["vec_id"],
                    round(row["distance"], 4),
                ), (r["query_id"], rank)


class TestHnswMaintenance:
    """Graph maintenance (round 8): tombstones are walked through but
    never returned, delta rows surface in results, and compaction of
    only the dirty shards is bit-identical to a fresh build over the
    surviving corpus."""

    PARAMS = dict(n_shards=4, m=8, ef_construction=32)

    @pytest.fixture()
    def maint_tree(self, spark, emb, tmp_path):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_build,
            hnsw_index_write_maint,
        )

        path = str(tmp_path / "hnsw")
        hnsw_index_write_maint(hnsw_build(emb, **self.PARAMS), path)
        return path

    def _q(self, emb, vid=5):
        return list(emb.filter(F.col("vec_id") == vid).first()["embedding"])

    def test_clean_tree_matches_plain_search(self, spark, emb, maint_tree):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_build,
            hnsw_maint_search,
            hnsw_search,
        )

        q = self._q(emb)
        got = hnsw_maint_search(spark, maint_tree, q, k=5).collect()
        want = hnsw_search(hnsw_build(emb, **self.PARAMS), q, k=5).collect()
        assert [(r["vec_id"], r["distance"]) for r in got] == [
            (r["vec_id"], r["distance"]) for r in want
        ]

    def test_tombstoned_node_excluded_but_walked(self, spark, emb, maint_tree):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_index_delete,
            hnsw_maint_search,
        )

        q = self._q(emb)
        base = hnsw_maint_search(spark, maint_tree, q, k=5).collect()
        victim = int(base[0]["vec_id"])  # the probe itself (distance 0)
        hnsw_index_delete(
            spark.createDataFrame([(victim,)], "vec_id long"), maint_tree
        )
        after = hnsw_maint_search(spark, maint_tree, q, k=5).collect()
        ids = [int(r["vec_id"]) for r in after]
        assert victim not in ids and len(ids) == 5
        # the rest of the base top-5 survives (graph still navigable
        # through the dead entry node)
        assert ids[:4] == [int(r["vec_id"]) for r in base[1:5]]

    def test_delta_append_surfaces_in_results(self, spark, emb, maint_tree):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_index_append,
            hnsw_maint_search,
        )
        from pyspark.sql import types as T

        q = self._q(emb)
        new_id = int(emb.agg(F.max("vec_id")).first()[0]) + 1
        rows = spark.createDataFrame(
            [(new_id, q)],
            T.StructType([
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]),
        )
        hnsw_index_append(rows, maint_tree, n_shards=self.PARAMS["n_shards"])
        got = hnsw_maint_search(spark, maint_tree, q, k=5).collect()
        # distance-0 tie with the probe vector, id-ordered: probe first
        assert int(got[1]["vec_id"]) == new_id
        assert got[1]["distance"] == got[0]["distance"]

    def test_upsert_supersedes_graph_version(self, spark, emb, maint_tree):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_index_append,
            hnsw_maint_search,
        )
        from pyspark.sql import types as T

        q = self._q(emb)
        base = hnsw_maint_search(spark, maint_tree, q, k=5).collect()
        moved = int(base[1]["vec_id"])
        # re-append `moved` with a FAR embedding: its graph version must
        # vanish from the top-5 even though the graph row still exists
        far = [v + 100.0 for v in q]
        rows = spark.createDataFrame(
            [(moved, far)],
            T.StructType([
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]),
        )
        hnsw_index_append(rows, maint_tree, n_shards=self.PARAMS["n_shards"])
        after = hnsw_maint_search(spark, maint_tree, q, k=5).collect()
        assert moved not in [int(r["vec_id"]) for r in after]

    def test_compact_bit_identical_to_fresh_build(self, spark, emb, maint_tree, tmp_path):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_build,
            hnsw_index_compact,
            hnsw_index_delete,
            hnsw_maint_search,
        )

        q = self._q(emb)
        base = hnsw_maint_search(spark, maint_tree, q, k=5).collect()
        dead = [int(base[1]["vec_id"]), int(base[2]["vec_id"])]
        hnsw_index_delete(
            spark.createDataFrame([(i,) for i in dead], "vec_id long"), maint_tree
        )
        dest = str(tmp_path / "compacted")
        hnsw_index_compact(spark, maint_tree, dest, **self.PARAMS)

        survivors = emb.filter(~F.col("vec_id").isin(dead))
        fresh = hnsw_build(survivors, **self.PARAMS)

        def rows_of(df):
            return sorted(
                (
                    int(r["shard"]), int(r["vec_id"]), int(r["level"]),
                    tuple(tuple(l) for l in r["neighbors"]),
                    tuple(r["embedding"]),
                )
                for r in df.collect()
            )

        got = spark.read.parquet(dest).withColumn("shard", F.col("shard").cast("int"))
        assert rows_of(got.drop("batch_id")) == rows_of(fresh)

    def test_compact_rebuilds_only_dirty_shards(self, spark, emb, maint_tree, tmp_path):
        """Clean shards' files copy through; the contract is observable
        as: only shards containing dead ids change membership rows."""
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.nsw import (
            hnsw_index_compact,
            hnsw_index_delete,
        )

        pre = spark.read.parquet(maint_tree)
        victim = int(pre.select("vec_id").orderBy("vec_id").first()[0])
        victim_shard = int(
            pre.filter(F.col("vec_id") == victim).select("shard").first()[0]
        )
        hnsw_index_delete(
            spark.createDataFrame([(victim,)], "vec_id long"), maint_tree
        )
        dest = str(tmp_path / "compacted")
        hnsw_index_compact(spark, maint_tree, dest, **self.PARAMS)
        post = spark.read.parquet(dest)
        # the victim's shard shrank by one; every other shard kept its rows
        pre_counts = {r["shard"]: r["n"] for r in pre.groupBy("shard").agg(F.count("*").alias("n")).collect()}
        post_counts = {r["shard"]: r["n"] for r in post.groupBy("shard").agg(F.count("*").alias("n")).collect()}
        for s, n in pre_counts.items():
            expect = n - 1 if int(s) == victim_shard else n
            assert post_counts[int(s)] == expect
