"""Product-analytics operators: ordered funnels, cohort retention and
blocked fuzzy (edit-distance) matching. CDC latest-row compaction is
``operators/stateful.first_per_key`` with descending orderings.

These are the analytics shapes the reference serves from its ADS layer
(gmall-publisher queries over the aggregated ClickHouse tables,
/root/reference/gmall-publisher/src/main/java/com/guohaoyu/gmallpublisher/
service/impl — e.g. the sugar dashboard GMV/UV endpoints); here they are
first-class distributed operators instead of post-hoc dashboard SQL.

Scale notes (100 TB):
- funnel / cohort shuffle once per stage on the entity key
  (user_id) — no global windows, no driver collects.
- fuzzy_match blocks on a cheap deterministic key before computing
  Levenshtein, turning the quadratic all-pairs comparison into an
  equi-join whose fan-out is bounded by the block size (the classic
  record-linkage blocking strategy; same pattern as the LSH band join
  in operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def funnel_counts(
    events: DataFrame,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Strictly-ordered three-stage funnel per (user, day).

    A user converts stage k only if an event of type ``stages[k]``
    happens strictly AFTER their first stage k-1 conversion that day
    (the "ordered funnel" semantic — out-of-order events don't count).

    Physical plan: one groupBy per stage on (user, day) — the stage-2/3
    reductions join back to the events scan on the same (user, day)
    key, so AQE plans them as local shuffles over an already
    co-partitioned exchange. No window over the full event stream.
    """
    # day as a string key — stable across engines/arrow date repr
    day = F.date_format(ts_col, "yyyy-MM-dd").alias("day")
    base = events.select(F.col(user_col).alias("user_id"), day, ts_col, "event_type")

    s1 = (
        base.where(F.col("event_type") == stages[0])
        .groupBy("user_id", "day")
        .agg(F.min(ts_col).alias("_t1"))
    )
    s2 = (
        base.where(F.col("event_type") == stages[1])
        .join(s1, ["user_id", "day"])
        .where(F.col(ts_col) > F.col("_t1"))
        .groupBy("user_id", "day")
        .agg(F.min(ts_col).alias("_t2"))
    )
    s3 = (
        base.where(F.col("event_type") == stages[2])
        .join(s2, ["user_id", "day"])
        .where(F.col(ts_col) > F.col("_t2"))
        .groupBy("user_id", "day")
        .agg(F.min(ts_col).alias("_t3"))
    )

    d1 = s1.groupBy("day").agg(F.count(F.lit(1)).alias("n_stage1"))
    d2 = s2.groupBy("day").agg(F.count(F.lit(1)).alias("n_stage2"))
    d3 = s3.groupBy("day").agg(F.count(F.lit(1)).alias("n_stage3"))
    return (
        d1.join(d2, "day", "left")
        .join(d3, "day", "left")
        .select(
            "day",
            "n_stage1",
            F.coalesce("n_stage2", F.lit(0)).alias("n_stage2"),
            F.coalesce("n_stage3", F.lit(0)).alias("n_stage3"),
        )
    )


def cohort_retention(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Weekly cohort retention matrix.

    cohort_week = Monday of the user's first-ever event week;
    week_offset = whole weeks between cohort_week and an active week;
    n_users = distinct users from that cohort active at that offset.

    Two shuffles: distinct (user, week) activity, then a broadcast-able
    first-week join (one row per user — at 100 TB the user dimension is
    the small side vs the event log) and a final (cohort, offset) agg.
    """
    wk = F.date_trunc("week", F.col(ts_col))
    active = (
        events.select(F.col(user_col).alias("user_id"), wk.alias("_wk"))
        .distinct()
    )
    first = active.groupBy("user_id").agg(F.min("_wk").alias("_cohort"))
    return (
        active.join(first, "user_id")
        .select(
            F.date_format("_cohort", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.to_date("_wk"), F.to_date("_cohort")) / 7)
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def fuzzy_match_pairs(
    df: DataFrame,
    key_col: str,
    name_col: str,
    block_expr: Column,
    max_dist: int = 3,
) -> DataFrame:
    """Blocked fuzzy self-join: near-miss name pairs by edit distance.

    Classic record-linkage blocking: only rows sharing ``block_expr``
    are compared, turning O(n^2) Levenshtein into an equi-join with
    per-block quadratic cost. Pairs are emitted once (k1 < k2) with
    1 <= distance <= max_dist (exact duplicates are exact-dedup's job,
    operators/dedup.py).
    """
    a = df.select(
        F.col(key_col).alias("k1"),
        F.col(name_col).alias("name1"),
        block_expr.alias("_blk"),
    )
    b = df.select(
        F.col(key_col).alias("k2"),
        F.col(name_col).alias("name2"),
        block_expr.alias("_blk"),
    )
    lev = F.levenshtein("name1", "name2")
    return (
        a.join(b, "_blk")
        .where(F.col("k1") < F.col("k2"))
        # length-difference prune BEFORE the DP: lev >= |len1 - len2|,
        # so pairs outside the band can never match — the cheap O(1)
        # filter runs first and the quadratic-cost DP only on survivors
        .where(
            F.abs(F.length("name1") - F.length("name2")) <= max_dist
        )
        .select("k1", "k2", "name1", "name2", lev.alias("lev_dist"))
        .where((F.col("lev_dist") >= 1) & (F.col("lev_dist") <= max_dist))
    )


def fuzzy_match_names(
    df: DataFrame,
    name_col: str,
    block_fn,
    max_dist: int = 3,
) -> DataFrame:
    """Blocked fuzzy matching over DISTINCT names with carry counts.

    The scale-correct shape when names repeat heavily (dimension
    tables, catalog data): reduce to (name, n_keys) FIRST — the
    distinct-name table is orders of magnitude smaller than the rows —
    then run the blocked Levenshtein join on names alone, emitting how
    many records carry each side instead of the quadratic key-pair
    expansion (an 80-name-pair result instead of millions of key
    pairs). Same blocking + length-band pruning as fuzzy_match_pairs.
    """
    names = df.groupBy(F.col(name_col).alias("_n")).agg(
        F.count(F.lit(1)).alias("_ct")
    )
    a = names.select(
        F.col("_n").alias("name1"),
        F.col("_ct").alias("n1_keys"),
        block_fn(F.col("_n")).alias("_blk"),
    )
    b = names.select(
        F.col("_n").alias("name2"),
        F.col("_ct").alias("n2_keys"),
        block_fn(F.col("_n")).alias("_blk"),
    )
    lev = F.levenshtein("name1", "name2")
    return (
        a.join(b, "_blk")
        .where(F.col("name1") < F.col("name2"))
        .where(F.abs(F.length("name1") - F.length("name2")) <= max_dist)
        .select("name1", "name2", "n1_keys", "n2_keys", lev.alias("lev_dist"))
        .where((F.col("lev_dist") >= 1) & (F.col("lev_dist") <= max_dist))
    )


def incremental_agg_refresh(
    base_partial: DataFrame,
    delta_rows: DataFrame,
    keys: list[str],
    partial_aggs,
    merge_aggs,
) -> DataFrame:
    """Incremental materialized-view maintenance for algebraic
    aggregates: merged = base_partials (+) partial(delta).

    The refresh cost is O(|delta|) + O(|affected keys|), never a
    re-scan of the historical fact table — the property that makes a
    100 TB rollup maintainable. Only algebraic aggregates (count, sum,
    min, max — and things derivable from them like avg) merge
    losslessly; the caller states both sides of the algebra explicitly
    (the salted_agg convention, operators/skew.py). The merged result
    is IDENTICAL to re-aggregating base rows + delta rows from scratch.
    """
    delta_partial = delta_rows.groupBy(*keys).agg(*partial_aggs)
    return (
        base_partial.unionByName(delta_partial)
        .groupBy(*keys)
        .agg(*merge_aggs)
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Table-diff between two snapshots of the same keyed table:
    emits one row per key that was ADDED, REMOVED, or CHANGED (any
    compare column differs, null-safe), with the before/after values.
    Unchanged keys are absent.

    The reconciliation primitive behind CDC validation, dim-snapshot
    auditing, and backfill verification. One full-outer equi-join on
    the key — co-partitioned by the shuffle, no driver state; at scale
    both sides bucket on the key and the join is exchange-free.
    """
    o = old.select(
        *[F.col(c).alias(f"_o_{c}") for c in key_cols + compare_cols]
    )
    n = new.select(
        *[F.col(c).alias(f"_n_{c}") for c in key_cols + compare_cols]
    )
    cond = None
    for c in key_cols:
        eq = o[f"_o_{c}"] == n[f"_n_{c}"]
        cond = eq if cond is None else cond & eq
    joined = o.join(n, cond, "full_outer")

    key_is_old = F.col(f"_o_{key_cols[0]}").isNotNull()
    key_is_new = F.col(f"_n_{key_cols[0]}").isNotNull()
    changed = None
    for c in compare_cols:
        ne = ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
        changed = ne if changed is None else changed | ne
    verdict = (
        F.when(~key_is_old, F.lit("added"))
        .when(~key_is_new, F.lit("removed"))
        .when(changed, F.lit("changed"))
    )
    out_key = [
        F.coalesce(F.col(f"_o_{c}"), F.col(f"_n_{c}")).alias(c)
        for c in key_cols
    ]
    return (
        joined.withColumn("change", verdict)
        .where(F.col("change").isNotNull())
        .select(
            *out_key,
            "change",
            *[F.col(f"_o_{c}").alias(f"old_{c}") for c in compare_cols],
            *[F.col(f"_n_{c}").alias(f"new_{c}") for c in compare_cols],
        )
    )
