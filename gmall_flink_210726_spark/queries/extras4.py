"""Extras wave 4: product-analytics operators (ordered funnel, cohort
retention, CDC latest-row compaction, blocked fuzzy matching), GROUPING
SETS, a deterministic HyperLogLog sketch, and shard bin-packing.

Oracle notes:
- The HLL oracle recomputes the SAME 60-bit md5 hash (15 hex digits ->
  bigint via an exact shift polynomial), register split, leading-zero
  rank, and small-range correction — an *approximate* algorithm under
  an exact hash-compare gate. power(2, -m) sums stay exact in double
  (register ranks are small), and the one transcendental (ln) feeds a
  round(_, 4) with ~1e-14 engine divergence, far below the boundary.
- Shard packing order is (md5(id), id): the Spark plan decomposes the
  global cumsum into per-bucket windows + a 256-row bucket prefix
  table, where bucket = first two hex digits — numeric bucket order
  equals lexicographic md5 order, so the oracle's single ORDER BY md5
  window is semantically identical.
- Money flows through the cents reconstruction (extras3 precedent).
- Levenshtein: Spark and DuckDB both implement plain (unit-cost) edit
  distance; the oracle casts to INTEGER to match Spark's return type.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_210726_spark.operators.analytics import cohort_retention, funnel_counts
from gmall_flink_210726_spark.operators.sketch import hll_distinct, shard_binpack
from gmall_flink_210726_spark.operators.stateful import first_per_key
from gmall_flink_210726_spark.registry import register
from gmall_flink_210726_spark.sources.batch import load_table

_cents = lambda c: F.round(F.col(c) * 100, 0).cast("long")  # noqa: E731


@register(
    "an1_funnel_conversion",
    oracle="""
    WITH base AS (SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, ts, event_type
                  FROM events),
    s1 AS (SELECT user_id, day, MIN(ts) AS t1 FROM base
           WHERE event_type = 'view' GROUP BY 1, 2),
    s2 AS (SELECT b.user_id, b.day, MIN(b.ts) AS t2
           FROM base b JOIN s1 ON b.user_id = s1.user_id AND b.day = s1.day
           WHERE b.event_type = 'click' AND b.ts > s1.t1 GROUP BY 1, 2),
    s3 AS (SELECT b.user_id, b.day, MIN(b.ts) AS t3
           FROM base b JOIN s2 ON b.user_id = s2.user_id AND b.day = s2.day
           WHERE b.event_type = 'purchase' AND b.ts > s2.t2 GROUP BY 1, 2),
    d1 AS (SELECT day, COUNT(*) AS n_stage1 FROM s1 GROUP BY day),
    d2 AS (SELECT day, COUNT(*) AS n_stage2 FROM s2 GROUP BY day),
    d3 AS (SELECT day, COUNT(*) AS n_stage3 FROM s3 GROUP BY day)
    SELECT d1.day, n_stage1,
           COALESCE(n_stage2, 0) AS n_stage2,
           COALESCE(n_stage3, 0) AS n_stage3
    FROM d1 LEFT JOIN d2 USING (day) LEFT JOIN d3 USING (day)
    """,
    doc="Strictly-ordered view->click->purchase funnel per (user, day): "
    "a click converts only after that day's first view, a purchase only "
    "after that ordered click. One (user, day) groupBy per stage, "
    "stage joins stay on the same key (AQE-local shuffles); no global "
    "event-stream window. operators/analytics.py:funnel_counts",
    tags=("analytics",),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel_counts(load_table(spark, sf_dir, "events"))


@register(
    "an2_cohort_retention",
    oracle="""
    WITH active AS (SELECT DISTINCT user_id,
                           strftime(date_trunc('week', ts), '%Y-%m-%d') AS wk
                    FROM events),
    first AS (SELECT user_id, MIN(wk) AS cohort FROM active GROUP BY user_id)
    SELECT first.cohort AS cohort_week,
           CAST(date_diff('day', CAST(first.cohort AS DATE), CAST(active.wk AS DATE)) // 7 AS INTEGER)
             AS week_offset,
           COUNT(*) AS n_users
    FROM active JOIN first ON active.user_id = first.user_id
    GROUP BY 1, 2
    """,
    doc="Weekly cohort retention matrix: cohort = ISO week of first-ever "
    "event, offsets counted in whole weeks, distinct-active users per "
    "(cohort, offset). Distinct (user, week) reduction then a per-user "
    "first-week join (broadcast-able user dim at scale). "
    "operators/analytics.py:cohort_retention",
    tags=("analytics",),
)
def q_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cohort_retention(load_table(spark, sf_dir, "events"))


@register(
    "an3_cdc_latest_orders",
    oracle="""
    SELECT o_custkey,
           o_orderkey AS last_orderkey,
           o_orderdate AS last_orderdate,
           CAST(round(o_totalprice * 100, 0) AS BIGINT) AS last_cents,
           o_orderstatus AS last_status
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders)
    WHERE rn = 1
    """,
    doc="CDC log compaction — latest row per key with a deterministic "
    "unique-column tiebreak (replay-stable survivor), the batch analog "
    "of the reference's HBase dim upsert (DimSinkFunction.java). One "
    "row_number shuffle on the key. operators/stateful.py:first_per_key",
    tags=("analytics", "cdc"),
)
def q_cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    latest = first_per_key(
        orders,
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()],
    )
    return latest.select(
        "o_custkey",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
        _cents("o_totalprice").alias("last_cents"),
        F.col("o_orderstatus").alias("last_status"),
    )


@register(
    "an4_fuzzy_parts_lev",
    oracle="""
    WITH names AS (SELECT p_name, CAST(COUNT(*) AS BIGINT) AS ct
                   FROM part GROUP BY p_name),
    p AS (SELECT p_name, ct, regexp_extract(p_name, '(\\S+)$', 1) AS blk
          FROM names)
    SELECT a.p_name AS name1, b.p_name AS name2,
           a.ct AS n1_keys, b.ct AS n2_keys,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS lev_dist
    FROM p a JOIN p b ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE abs(length(a.p_name) - length(b.p_name)) <= 3
      AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
    """,
    doc="Blocked fuzzy matching (record linkage) over DISTINCT part "
    "names with carry counts: reduce rows -> (name, n_keys) first "
    "(catalog names repeat heavily; the distinct table is orders of "
    "magnitude smaller), then the blocked Levenshtein join with a "
    "length-band prune before the DP. Emitting counts instead of the "
    "key-pair cross keeps output linear in matched NAME pairs — the "
    "naive per-key expansion was a measured 40x slowdown at sf0.1. "
    "operators/analytics.py:fuzzy_match_names",
    tags=("analytics", "dedup"),
)
def q_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.analytics import fuzzy_match_names

    part = load_table(spark, sf_dir, "part")
    return fuzzy_match_names(
        part,
        "p_name",
        lambda n: F.regexp_extract(n, r"(\S+)$", 1),
        max_dist=3,
    )


@register(
    "an5_grouping_sets",
    oracle="""
    SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
                ELSE o_orderstatus END AS status,
           CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
                ELSE o_orderpriority END AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
             AS cents_sum
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Multi-granularity aggregate via GROUPING SETS — per-status, "
    "per-priority, and grand-total marginals in ONE pass (Catalyst "
    "Expand + single hash aggregate; 3 independent groupBys would "
    "triple-scan). GROUPING() disambiguates 'ALL' from data nulls.",
    tags=("analytics", "sql"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_x16")
    return spark.sql(
        """
        SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
                    ELSE o_orderstatus END AS status,
               CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
                    ELSE o_orderpriority END AS priority,
               COUNT(*) AS n_orders,
               SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS cents_sum
        FROM orders_x16
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "sketch_hll_distinct",
    oracle="""
    WITH ded AS (SELECT DISTINCT
                   strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
                   o_custkey
                 FROM orders),
    hx AS (SELECT month, md5(CAST(o_custkey AS VARCHAR)) AS h FROM ded),
    hv AS (SELECT month,
             list_sum([(strpos('0123456789abcdef', substr(h, i, 1)) - 1)
                       * (CAST(1 AS BIGINT) << (4 * (15 - i)))
                       for i in range(1, 16)]) AS h60
           FROM hx),
    rg AS (SELECT month, h60 % 64 AS reg,
                  CASE WHEN h60 // 64 = 0 THEN 55
                       ELSE 55 - length(bin(h60 // 64)) END AS rho
           FROM hv),
    mx AS (SELECT month, reg, MAX(rho) AS m FROM rg GROUP BY 1, 2),
    pg AS (SELECT month, SUM(power(2.0, -m)) AS s_obs, COUNT(*) AS n_regs
           FROM mx GROUP BY 1),
    ex AS (SELECT month, COUNT(*) AS exact_distinct FROM ded GROUP BY 1)
    SELECT pg.month,
           round(CASE WHEN 0.709 * 64 * 64 / (s_obs + (64 - n_regs)) <= 160.0
                           AND 64 - n_regs > 0
                      THEN 64.0 * ln(64.0 / (64 - n_regs))
                      ELSE 0.709 * 64 * 64 / (s_obs + (64 - n_regs)) END, 4)
             AS hll_estimate,
           CAST(exact_distinct AS BIGINT) AS exact_distinct
    FROM pg JOIN ex USING (month)
    """,
    doc="Deterministic HyperLogLog (m=64, Flajolet 2007) distinct "
    "customers per month with the exact count alongside for "
    "calibration: md5-derived 60-bit hash, low-6-bit register split, "
    "leading-zero rank via bin(), published linear-counting "
    "small-range correction. The register table is a fixed 64 rows per "
    "group regardless of input size — a shuffle-once bounded-state "
    "reduction (what approx_count_distinct does, but with an "
    "oracle-reproducible layout). operators/sketch.py:hll_distinct",
    tags=("sketch", "llm"),
)
def q_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month"),
        "o_custkey",
    )
    return hll_distinct(orders, ["month"], "o_custkey")


@register(
    "shard_binpack_docs",
    oracle="""
    WITH t AS (SELECT doc_id,
                 CAST(length(list_filter(regexp_split_to_array(text, '\\s+'),
                                         x -> x != '')) AS BIGINT) AS sz,
                 md5(CAST(doc_id AS VARCHAR)) AS hk
               FROM documents)
    SELECT doc_id, sz AS n_units,
           CAST(COALESCE(SUM(sz) OVER (ORDER BY hk, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             // 2000 AS BIGINT) AS shard_id
    FROM t
    """,
    doc="Deterministic shard bin-packing for training-data output "
    "layout: docs ordered by md5 (stable, uniform), exclusive prefix "
    "sum of token counts, shard = floor(cumsum / 2000). The Spark "
    "plan never sorts the corpus in one partition — per-bucket window "
    "cumsums plus a broadcast 256-row bucket prefix table reconstruct "
    "the identical global assignment (distributed prefix sum). "
    "operators/sketch.py:shard_binpack",
    tags=("llm", "layout"),
)
def q_binpack(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sz = F.size(F.filter(F.split("text", r"\s+"), lambda w: w != ""))
    return shard_binpack(docs, "doc_id", sz, target_per_shard=2000)
