"""Streaming bindings of the reference apps (SURVEY §7.1: one operator
code base, two execution modes).

Each function takes readStream DataFrames with the same schemas as the
batch apps in plans/apps.py and returns a streaming DataFrame. The
differences from batch-replay, by design:

- watermarks drive window firing and state eviction (T1/T2);
- distinct counts use approx_count_distinct (A3 streaming restriction,
  SURVEY §4.2) — the batch-replay mode stays exact and is what the
  oracle checks;
- the stateful singles (T4/T5/T6) come from streaming/stateful.py
  (applyInPandasWithState) over the flat event contract;
- dimension enrichment is a stream-static broadcast join: the static
  side is re-read every micro-batch, which is the freshness contract
  that replaces the reference's Redis cache (util/DimUtil.java:15-41).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmall_flink_210726_spark.functions.scalar import DT_FMT
from gmall_flink_210726_spark.functions.tokenizer import tokenize_col
from gmall_flink_210726_spark.operators.parse import parse_json_column
from gmall_flink_210726_spark.schemas import LOG_EVENT_SCHEMA


def base_log_stream(raw: DataFrame, value_col: str = "value") -> dict[str, DataFrame]:
    """dwd/BaseLogApp.java streaming form: parse with corrupt-record
    split + 3-way side-output split. The is_new rewrite (T6) is applied
    downstream via streaming/stateful.streaming_fix_is_new on the flat
    contract — keyed Python state has no place in this narrow path."""
    good, dirty = parse_json_column(raw, value_col, LOG_EVENT_SCHEMA)
    start = good.filter(F.col("start").isNotNull())
    page = good.filter(F.col("start").isNull())
    display = page.filter(F.col("displays").isNotNull()).select(
        "common",
        F.explode("displays").alias("display"),
        F.col("page.page_id").alias("page_id"),
        "ts",
    )
    return {"page": page, "start": start, "display": display, "dirty": dirty}


def visitor_stats_stream(
    page: DataFrame,
    window_duration: str = "10 seconds",
    watermark: str = "14 seconds",
) -> DataFrame:
    """dws/VisitorStatsApp.java streaming form (pv/sv/duration counters;
    uv/uj join in from the stateful operators' outputs in a full
    deployment). Watermark 14 s per the reference (:100-106)."""
    src = page.withColumn("event_time", F.timestamp_millis(F.col("ts"))).withWatermark(
        "event_time", watermark
    )
    agg = src.groupBy(
        F.window("event_time", window_duration).alias("w"),
        F.col("common.ar").alias("ar"),
        F.col("common.ch").alias("ch"),
        F.col("common.vc").alias("vc"),
        F.col("common.is_new").alias("is_new"),
    ).agg(
        F.count(F.lit(1)).alias("pv_ct"),
        F.sum(F.when(F.col("page.last_page_id").isNull(), 1).otherwise(0)).alias("sv_ct"),
        F.sum("page.during_time").alias("dur_sum"),
    )
    return agg.select(
        F.date_format("w.start", DT_FMT).alias("stt"),
        F.date_format("w.end", DT_FMT).alias("edt"),
        "vc", "ch", "ar", "is_new", "pv_ct", "sv_ct", "dur_sum",
    )


def keyword_stats_stream(
    page: DataFrame,
    window_duration: str = "10 seconds",
    watermark: str = "2 seconds",
) -> DataFrame:
    """dws/KeywordStatsApp.java streaming form: search filter (P4),
    tokenizer explode (D1), watermarked TUMBLE count (A5)."""
    # watermark BEFORE the search filter: every page event advances it
    # (a post-filter watermark would stall whenever searches are sparse)
    with_wm = page.withColumn(
        "event_time", F.timestamp_millis(F.col("ts"))
    ).withWatermark("event_time", watermark)
    searches = with_wm.filter(
        (F.col("page.last_page_id") == "search") & F.col("page.item").isNotNull()
    )
    words = searches.select(
        "event_time", F.explode(tokenize_col(F.col("page.item"))).alias("keyword")
    )
    agg = words.groupBy(
        F.window("event_time", window_duration).alias("w"), "keyword"
    ).agg(F.count(F.lit(1)).alias("ct"))
    return agg.select(
        "keyword",
        "ct",
        F.lit("search").alias("source"),
        F.date_format("w.start", DT_FMT).alias("stt"),
        F.date_format("w.end", DT_FMT).alias("edt"),
    )


def enrich_stream_with_dims(
    fact_stream: DataFrame, dim: DataFrame, fact_key: str, dim_key: str
) -> DataFrame:
    """J2 streaming — stream-static broadcast join; Spark re-plans the
    static side per micro-batch, so a dim upsert (sinks.upsert_dim_table)
    is visible in the next batch."""
    return fact_stream.join(
        F.broadcast(dim), F.col(fact_key) == F.col(dim_key), "left"
    )
