"""Wave-6 operator behavior tests: funnel ordering, cohort offsets,
CDC compaction determinism, fuzzy blocking, HLL accuracy, bin-packing
invariants and plan shape."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gmall_flink_210726_spark.operators.analytics import (
    cohort_retention,
    funnel_counts,
    fuzzy_match_pairs,
)
from gmall_flink_210726_spark.operators.sketch import hll_distinct, shard_binpack
from gmall_flink_210726_spark.operators.stateful import first_per_key


def _ev(spark, rows):
    return spark.createDataFrame(
        [Row(user_id=u, ts=dt.datetime(2024, 1, d, h, m), event_type=t)
         for (u, d, h, m, t) in rows]
    )


class TestFunnel:
    def test_order_matters(self, spark):
        # user 1: view->click->purchase (full funnel)
        # user 2: click BEFORE view, purchase after view (click must not count,
        #         so purchase can't count either)
        ev = _ev(spark, [
            (1, 1, 9, 0, "view"), (1, 1, 9, 5, "click"), (1, 1, 9, 9, "purchase"),
            (2, 1, 8, 0, "click"), (2, 1, 9, 0, "view"), (2, 1, 10, 0, "purchase"),
        ])
        row = funnel_counts(ev).collect()[0]
        assert (row.n_stage1, row.n_stage2, row.n_stage3) == (2, 1, 1)

    def test_same_timestamp_not_after(self, spark):
        # click at exactly the view instant is NOT strictly after
        ev = _ev(spark, [(1, 1, 9, 0, "view"), (1, 1, 9, 0, "click")])
        row = funnel_counts(ev).collect()[0]
        assert (row.n_stage1, row.n_stage2) == (1, 0)


class TestCohort:
    def test_offsets(self, spark):
        # user 1 first active week of Jan 1 (Mon), again week of Jan 15 -> offset 2
        ev = _ev(spark, [(1, 2, 9, 0, "view"), (1, 16, 9, 0, "view"),
                         (2, 9, 9, 0, "view")])
        got = {(r.cohort_week, r.week_offset): r.n_users
               for r in cohort_retention(ev).collect()}
        assert got == {("2024-01-01", 0): 1, ("2024-01-01", 2): 1,
                       ("2024-01-08", 0): 1}


class TestLatestByKey:
    def test_tiebreak_deterministic(self, spark):
        df = spark.createDataFrame(
            [Row(k=1, seq=2, v="b"), Row(k=1, seq=3, v="c"), Row(k=1, seq=1, v="a")]
        )
        out = first_per_key(df, ["k"], [F.col("seq").desc()]).collect()
        assert len(out) == 1 and out[0].v == "c"


class TestFuzzy:
    def test_blocking_and_distance(self, spark):
        df = spark.createDataFrame([
            Row(k=1, name="cold widget"), Row(k=2, name="bold widget"),
            Row(k=3, name="cold bolt"),   Row(k=4, name="gold widget"),
        ])
        blk = F.regexp_extract("name", r"(\S+)$", 1)
        pairs = {(r.k1, r.k2) for r in
                 fuzzy_match_pairs(df, "k", "name", blk, max_dist=2).collect()}
        # widget block: cold~bold (1), cold~gold (1), bold~gold (1); bolt alone
        assert pairs == {(1, 2), (1, 4), (2, 4)}

    def test_names_variant_carries_counts(self, spark):
        from gmall_flink_210726_spark.operators.analytics import fuzzy_match_names

        df = spark.createDataFrame(
            [Row(k=i, name="cold widget") for i in range(3)]
            + [Row(k=10, name="bold widget")]
        )
        out = fuzzy_match_names(
            df, "name", lambda n: F.regexp_extract(n, r"(\S+)$", 1), max_dist=2
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.name1, r.name2, r.lev_dist) == ("bold widget", "cold widget", 1)
        assert {r.n1_keys, r.n2_keys} == {1, 3}

    def test_length_band_prunes_before_dp(self, spark):
        # names differing in length by more than max_dist can never match
        df = spark.createDataFrame(
            [Row(k=1, name="ab widget"), Row(k=2, name="abcdefgh widget")]
        )
        out = fuzzy_match_pairs(
            df, "k", "name", F.regexp_extract("name", r"(\S+)$", 1), max_dist=3
        ).collect()
        assert out == []


class TestHLL:
    def test_estimate_within_published_error(self, spark):
        n = 5000
        df = spark.range(n).select(
            F.lit("g").alias("g"), F.col("id").alias("k"))
        row = hll_distinct(df, ["g"], "k").collect()[0]
        assert row.exact_distinct == n
        # m=64 -> typical rel err 1.04/sqrt(64) = 13%; allow 3 sigma
        assert abs(row.hll_estimate - n) / n < 0.4

    def test_duplicate_insensitive(self, spark):
        a = spark.range(200).select(F.lit("g").alias("g"), F.col("id").alias("k"))
        b = a.union(a).union(a)
        ra = hll_distinct(a, ["g"], "k").collect()[0]
        rb = hll_distinct(b, ["g"], "k").collect()[0]
        assert ra.hll_estimate == rb.hll_estimate


class TestBinpack:
    def test_shard_budget_invariant(self, spark):
        target = 100
        df = spark.range(500).select(
            F.col("id"), (F.col("id") % 17 + 1).alias("sz"))
        out = shard_binpack(df, "id", F.col("sz"), target_per_shard=target)
        per = (out.groupBy("shard_id").agg(F.sum("n_units").alias("tot"))
               .collect())
        # greedy floor(cum/target): every shard except possibly the last
        # starts before its target boundary, so tot < target + max_item
        assert all(r.tot < target + 17 for r in per)
        # shards are contiguous 0..max
        ids = sorted(r.shard_id for r in per)
        assert ids == list(range(len(ids)))

    def test_total_preserved(self, spark):
        df = spark.range(300).select(F.col("id"), F.lit(7).alias("sz"))
        out = shard_binpack(df, "id", F.col("sz"), target_per_shard=50)
        assert out.agg(F.sum("n_units")).collect()[0][0] == 300 * 7
        assert out.count() == 300

    def test_plan_broadcasts_offsets_no_global_sort(self, spark):
        df = spark.range(1000).select(F.col("id"), F.lit(3).alias("sz"))
        out = shard_binpack(df, "id", F.col("sz"), target_per_shard=64)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan  # 256-row offset table broadcast
        # the corpus-side cumsum window must be PARTITIONED by bucket —
        # a partition-less window over the docs would serialize the corpus
        import re

        doc_windows = [
            ln for ln in plan.splitlines()
            if "windowspecdefinition" in ln and "_hk" in ln
        ]
        assert doc_windows, plan
        assert all("_bkt" in ln for ln in doc_windows), doc_windows


class TestBinpackOrderInvariance:
    def test_input_order_irrelevant(self, spark):
        """Shard assignment is a pure function of (id, size) — the md5
        global order makes it independent of input row order AND
        partitioning (the determinism a re-run/backfill relies on)."""
        from pyspark.sql import functions as F

        base = spark.range(400).select(
            F.col("id"), (F.col("id") % 23 + 1).alias("sz")
        )
        shuffled = base.orderBy(F.md5(F.concat(F.lit("x"), F.col("id")))).repartition(7)
        out1 = {(r.id, r.shard_id) for r in
                shard_binpack(base, "id", F.col("sz"), 64).collect()}
        out2 = {(r.id, r.shard_id) for r in
                shard_binpack(shuffled, "id", F.col("sz"), 64).collect()}
        assert out1 == out2
