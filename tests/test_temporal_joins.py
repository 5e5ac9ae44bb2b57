"""As-of join and binned range join on hand-built timelines."""

from __future__ import annotations

import datetime as dt

import pytest

from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.asof import (
    asof_join,
)
from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.rangejoin import (
    range_join,
)
from pyspark.sql import functions as F

T0 = dt.datetime(2026, 1, 1)


def _ts(s):
    return T0 + dt.timedelta(seconds=s)


@pytest.fixture(scope="module")
def quotes(spark):
    rows = [
        ("A", _ts(0), 100.0), ("A", _ts(60), 101.0), ("A", _ts(120), 102.0),
        ("B", _ts(30), 50.0),
    ]
    return spark.createDataFrame(rows, "sym string, ts timestamp, px double")


@pytest.fixture(scope="module")
def trades(spark):
    rows = [
        ("A", _ts(59), 10),    # -> quote at 0
        ("A", _ts(60), 11),    # equal ts -> quote at 60 ("at or before")
        ("A", _ts(500), 12),   # -> quote at 120
        ("B", _ts(10), 13),    # before any B quote -> null
        ("C", _ts(10), 14),    # no quotes at all -> null
    ]
    return spark.createDataFrame(rows, "sym string, ts timestamp, qty int")


class TestAsofJoin:
    def test_backward_semantics(self, spark, quotes, trades):
        out = {r["qty"]: r["px_asof"]
               for r in asof_join(trades, quotes, key="sym", ts="ts").collect()}
        assert out == {10: 100.0, 11: 101.0, 12: 102.0, 13: None, 14: None}

    def test_forward_semantics(self, spark, quotes, trades):
        out = {r["qty"]: r["px_asof"]
               for r in asof_join(trades, quotes, key="sym", ts="ts", direction="forward").collect()}
        # forward: first quote at or after the trade
        assert out == {10: 101.0, 11: 101.0, 12: None, 13: 50.0, 14: None}

    def test_match_timestamp_attached(self, spark, quotes, trades):
        row = next(r for r in asof_join(trades, quotes, key="sym", ts="ts").collect()
                   if r["qty"] == 12)
        assert row["ts_asof"] == _ts(120)

    def test_single_shuffle_plan(self, spark, quotes, trades):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.plans.inspect import (
            count_exchanges,
        )

        assert count_exchanges(asof_join(trades, quotes, key="sym", ts="ts")) == 1


class TestRangeJoin:
    def test_window_membership_incl_bounds(self, spark):
        left = spark.createDataFrame(
            [("u", _ts(100), 1), ("u", _ts(400), 2), ("u", _ts(401), 3), ("u", _ts(99), 4)],
            "user string, ts timestamp, lid int",
        )
        right = spark.createDataFrame(
            [("u", _ts(100), 7)], "user string, ts timestamp, rid int"
        )
        out = range_join(left, right, key="user", lower=0.0, upper=300.0)
        got = sorted(r["lid"] for r in out.collect())
        # lid 1 (delta 0, inclusive) and 2 (delta 300, inclusive); 3 (301) and 4 (-1) excluded
        assert got == [1, 2]

    def test_matches_naive_inequality_join(self, spark):
        import random

        rnd = random.Random(7)
        left = spark.createDataFrame(
            [("u%d" % (i % 3), _ts(rnd.uniform(0, 5000)), i) for i in range(200)],
            "user string, ts timestamp, lid int",
        )
        right = spark.createDataFrame(
            [("u%d" % (i % 3), _ts(rnd.uniform(0, 5000)), i) for i in range(50)],
            "user string, ts timestamp, rid int",
        )
        fast = {(r["lid"], r["rid"]) for r in
                range_join(left, right, key="user", lower=0.0, upper=600.0).collect()}
        naive = left.alias("l").join(
            right.alias("r"),
            (F.col("l.user") == F.col("r.user"))
            & (F.col("l.ts").cast("double") - F.col("r.ts").cast("double") >= 0)
            & (F.col("l.ts").cast("double") - F.col("r.ts").cast("double") <= 600),
        )
        slow = {(r["lid"], r["rid"]) for r in naive.collect()}
        assert fast == slow and len(fast) > 0


class TestAsofForwardTolerance:
    def test_registered_entry_semantics(self, spark, sf_dir):
        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.queries import (
            REGISTRY,
        )

        fn, sql = REGISTRY["asof_join_forward_tolerance"]
        rows = fn(spark, sf_dir).collect()
        assert sql is not None and len(rows) >= 1
        for r in rows:
            if r.next_purchase_id is not None:
                assert 0 <= r.delay_us <= 7_200_000_000
            else:
                assert r.delay_us is None and r.next_purchase_value is None

    def test_forward_picks_next_not_nearest(self, spark):
        from pyspark.sql import functions as F

        from postgresql_vector_search_pgvector__for_pdf_file_on_blob_storage_english_spark.operators.asof import (
            asof_join,
        )

        probe = spark.createDataFrame(
            [(1, "2024-01-01 10:00:00", 100)], "user_id long, ts string, event_id long"
        ).select("user_id", F.to_timestamp("ts").alias("ts"), "event_id")
        build = spark.createDataFrame(
            [
                (1, "2024-01-01 09:59:00", 7),   # closer, but in the PAST
                (1, "2024-01-01 10:30:00", 8),
                (1, "2024-01-01 11:00:00", 9),
            ],
            "user_id long, ts string, bid long",
        ).select("user_id", F.to_timestamp("ts").alias("ts"), "bid")
        out = asof_join(probe, build, key="user_id", ts="ts", direction="forward").collect()
        assert len(out) == 1 and out[0].bid_asof == 8
