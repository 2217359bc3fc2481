"""Gmall operator-parity queries over the driver's tables.

Each query exercises one operator row from SURVEY.md §2 on the
driver-generated tables (TESTDATA.md): the ``events`` table stands in
for the behavior-log stream (ods_base_log), the TPC-H-ish star schema
for the business DB + dimensions. Every query has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_210726_spark.functions.scalar import money_sum, one_hot
from gmall_flink_210726_spark.operators.aggregations import distinct_count, window_agg
from gmall_flink_210726_spark.operators.joins import enrich_dims
from gmall_flink_210726_spark.registry import register
from gmall_flink_210726_spark.sources.batch import load_table

# DuckDB fragments for tumbling windows (≡ Spark window(ts, '10 minutes')
# with a UTC session): epoch-floor arithmetic on naive timestamps.
_WIN10_START = "strftime(make_timestamp((epoch_us(ts) // 600000000) * 600000000), '%Y-%m-%d %H:%M:%S')"
_WIN10_END = "strftime(make_timestamp((epoch_us(ts) // 600000000) * 600000000 + 600000000), '%Y-%m-%d %H:%M:%S')"
_WIN1H_START = "strftime(make_timestamp((epoch_us(ts) // 3600000000) * 3600000000), '%Y-%m-%d %H:%M:%S')"
_WIN1H_END = "strftime(make_timestamp((epoch_us(ts) // 3600000000) * 3600000000 + 3600000000), '%Y-%m-%d %H:%M:%S')"


@register(
    "a1_event_stats_tumble10m",
    oracle=f"""
    SELECT {_WIN10_START} AS stt,
           {_WIN10_END}   AS edt,
           event_type,
           COUNT(*) AS pv_ct,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val_sum
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="A1/A2/T3 — keyed 10-min tumbling window reduce with stt/edt "
    "stamping (dws/VisitorStatsApp.java:108-141, ProductStatsApp.java:202-241)",
    tags=("gmall", "agg", "bench"),
)
def a1_event_stats_tumble10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return window_agg(
        events,
        F.window("ts", "10 minutes"),
        keys=["event_type"],
        aggs=[F.count(F.lit(1)).alias("pv_ct"), money_sum("value", "val_sum")],
    )


@register(
    "a3_distinct_users_tumble1h",
    oracle=f"""
    SELECT {_WIN1H_START} AS stt,
           {_WIN1H_END}   AS edt,
           event_type,
           COUNT(DISTINCT user_id) AS uv_ct,
           COUNT(*) AS pv_ct
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="A3/A4 — exact distinct count inside a tumbling window "
    "(bean/ProductStats.java:75-86 HashSet accumulators; "
    "dws/ProvinceStatsSqlApp.java:44-52 COUNT(DISTINCT))",
    tags=("gmall", "agg", "bench"),
)
def a3_distinct_users_tumble1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return window_agg(
        events,
        F.window("ts", "1 hour"),
        keys=["event_type"],
        aggs=[
            distinct_count("user_id", "uv_ct"),
            F.count(F.lit(1)).alias("pv_ct"),
        ],
    )


@register(
    "j2_star_enrich_revenue",
    oracle="""
    SELECT r_name, n_name,
           COUNT(*) AS order_ct,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    doc="J2 — chained broadcast dimension enrichment (replaces the async "
    "Redis/Phoenix lookup chain at dwm/OrderWideApp.java:100-195)",
    tags=("gmall", "join", "bench"),
)
def j2_star_enrich_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    wide = enrich_dims(
        orders,
        [
            (customer, F.col("o_custkey") == F.col("c_custkey"), [F.col("c_custkey"), F.col("c_nationkey")]),
            (nation, F.col("c_nationkey") == F.col("n_nationkey"), [F.col("n_nationkey"), F.col("n_name"), F.col("n_regionkey")]),
            (region, F.col("n_regionkey") == F.col("r_regionkey"), [F.col("r_regionkey"), F.col("r_name")]),
        ],
        how="inner",
    )
    return wide.groupBy("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("order_ct"),
        money_sum("o_totalprice", "revenue"),
    )


@register(
    "p8_event_onehot_per_user",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click_ct,
           CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view_ct,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_ct,
           CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error_ct,
           CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup_ct,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(18,6))
                         ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE) AS purchase_amount
    FROM events
    GROUP BY user_id
    """,
    doc="P8/F11 — heterogeneous events normalized to one metric-row shape "
    "with one-hot counters (dws/ProductStatsApp.java:80-185)",
    tags=("gmall", "transform", "bench"),
)
def p8_event_onehot_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # Normalize each event to the common metric shape (one-hot counters),
    # then aggregate — same two-step shape as the reference's
    # per-stream map → union → reduce.
    normalized = events.select(
        "user_id",
        one_hot(F.col("event_type") == "click").alias("click"),
        one_hot(F.col("event_type") == "view").alias("view"),
        one_hot(F.col("event_type") == "purchase").alias("purchase"),
        one_hot(F.col("event_type") == "error").alias("error"),
        one_hot(F.col("event_type") == "signup").alias("signup"),
        F.when(F.col("event_type") == "purchase", F.col("value").cast("decimal(18,6)"))
        .otherwise(F.lit(0).cast("decimal(18,6)"))
        .alias("amount"),
    )
    return normalized.groupBy("user_id").agg(
        F.sum("click").alias("click_ct"),
        F.sum("view").alias("view_ct"),
        F.sum("purchase").alias("purchase_ct"),
        F.sum("error").alias("error_ct"),
        F.sum("signup").alias("signup_ct"),
        F.sum("amount").cast("double").alias("purchase_amount"),
    )


@register(
    "ads_daily_gmv",
    oracle="""
    SELECT strftime(o_orderdate, '%Y%m%d') AS dt,
           COUNT(*) AS order_ct,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS gmv
    FROM orders
    GROUP BY 1
    """,
    doc="A6/F15 — ADS serving aggregate: daily GMV "
    "(gmall-publisher ProductStatsMapper.java:10-11, toYYYYMMDD bucket)",
    tags=("gmall", "ads"),
)
def ads_daily_gmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_format("o_orderdate", "yyyyMMdd").alias("dt"))
        .agg(F.count(F.lit(1)).alias("order_ct"), money_sum("o_totalprice", "gmv"))
    )
