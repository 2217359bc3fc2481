"""ADS serving queries — the gmall-publisher analog (SURVEY §2.7 A6).

The reference serves dashboards from ClickHouse via MyBatis mappers in
gmall-publisher (ProductStatsMapper.java:10-11 and the Sugar
controller endpoints). Here each endpoint is a DataFrame function over
the DWS stats tables produced by plans/apps.py — `spark.sql`-able via
temp views as well.

All functions take the stats DataFrame + a 'yyyy-MM-dd' date string,
mirroring the publisher's `${date}` parameter, and use F15's
toYYYYMMDD-style bucketing on the window-start column `stt`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _on_date(df: DataFrame, date: str) -> DataFrame:
    return df.filter(F.to_date("stt") == F.lit(date))


def gmv_by_date(product_stats: DataFrame, date: str) -> DataFrame:
    """ProductStatsMapper.java:10-11 — select sum(order_amount) where
    toYYYYMMDD(stt)=#{date}."""
    return _on_date(product_stats, date).agg(
        F.sum("order_amount").alias("gmv")
    )


def product_stats_by_trademark(
    product_stats: DataFrame, date: str, limit: int = 10
) -> DataFrame:
    """Trademark ranking (publisher's getProductStatsByTrademark)."""
    return (
        _on_date(product_stats, date)
        .groupBy("tm_id", "tm_name")
        .agg(F.sum("order_amount").alias("order_amount"))
        .orderBy(F.desc("order_amount"))
        .limit(limit)
    )


def visitor_stats_by_hour(visitor_stats: DataFrame, date: str) -> DataFrame:
    """Hourly visitor curve (publisher's getVisitorStatsByHour): uv/pv/
    new-visitor counts per hour-of-day."""
    return (
        _on_date(visitor_stats, date)
        .groupBy(F.hour(F.to_timestamp("stt")).alias("hr"))
        .agg(
            F.sum("uv_ct").alias("uv_ct"),
            F.sum("pv_ct").alias("pv_ct"),
            F.sum(F.when(F.col("is_new") == "1", F.col("uv_ct")).otherwise(0)).alias(
                "new_uv"
            ),
        )
        .orderBy("hr")
    )


def visitor_stats_by_new_flag(visitor_stats: DataFrame, date: str) -> DataFrame:
    """New-vs-returning split (publisher's getVisitorStats)."""
    return (
        _on_date(visitor_stats, date)
        .groupBy("is_new")
        .agg(
            F.sum("uv_ct").alias("uv_ct"),
            F.sum("pv_ct").alias("pv_ct"),
            F.sum("sv_ct").alias("sv_ct"),
            F.sum("uj_ct").alias("uj_ct"),
            F.sum("dur_sum").alias("dur_sum"),
        )
    )


def keyword_top(keyword_stats: DataFrame, date: str, limit: int = 20) -> DataFrame:
    """Keyword word-cloud (publisher's getKeywordStats)."""
    return (
        _on_date(keyword_stats, date)
        .groupBy("keyword")
        .agg(F.sum("ct").alias("ct"))
        .orderBy(F.desc("ct"), "keyword")
        .limit(limit)
    )
