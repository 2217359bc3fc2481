"""Streaming bindings of the reference apps (SURVEY §7.1: one operator
code base, two execution modes).

Each function takes readStream DataFrames with the same schemas as the
batch apps in plans/apps.py and returns a streaming DataFrame. An app
whose batch plan also runs on a stream needs no binding here: for
example ``plans/apps.keyword_stats_app`` carries its own watermark and
runs unchanged on a readStream page branch. What stays here differs
from batch replay by design:

- the stateful singles (T4/T5/T6) come from streaming/stateful.py
  (applyInPandasWithState) over the flat event contract, so the log
  split runs without the batch is_new window and the visitor counters
  without the batch UV and jump window functions;
- dimension enrichment is a stream-static broadcast join: the static
  side is re-read every micro-batch, which is the freshness contract
  that replaces the reference's Redis cache (util/DimUtil.java:15-41).

Windowed counters aggregate through ``operators/aggregations.window_agg``,
the same operator as batch; watermarks drive window firing and state
eviction (T1/T2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gmall_flink_210726_spark.operators.aggregations import window_agg
from gmall_flink_210726_spark.operators.parse import parse_json_column
from gmall_flink_210726_spark.plans.apps import split_log
from gmall_flink_210726_spark.schemas import LOG_EVENT_SCHEMA


def base_log_stream(raw: DataFrame, value_col: str = "value") -> dict[str, DataFrame]:
    """dwd/BaseLogApp.java streaming form: parse with corrupt-record
    split + the batch app's 3-way split. The is_new rewrite (T6) is applied
    downstream via streaming/stateful.streaming_fix_is_new on the flat
    contract — keyed Python state has no place in this narrow path."""
    good, dirty = parse_json_column(raw, value_col, LOG_EVENT_SCHEMA)
    return {**split_log(good), "dirty": dirty}


def visitor_stats_stream(
    page: DataFrame,
    window_duration: str = "10 seconds",
    watermark: str = "14 seconds",
) -> DataFrame:
    """dws/VisitorStatsApp.java streaming form (pv/sv/duration counters;
    uv/uj join in from the stateful operators' outputs in a full
    deployment). Watermark 14 s per the reference (:100-106)."""
    keys = ["vc", "ch", "ar", "is_new"]
    src = page.withColumn("event_time", F.timestamp_millis(F.col("ts"))).withWatermark(
        "event_time", watermark
    )
    return window_agg(
        src.select("event_time", "page", *[F.col(f"common.{k}").alias(k) for k in keys]),
        F.window("event_time", window_duration),
        keys,
        [
            F.count(F.lit(1)).alias("pv_ct"),
            F.sum(F.when(F.col("page.last_page_id").isNull(), 1).otherwise(0)).alias("sv_ct"),
            F.sum("page.during_time").alias("dur_sum"),
        ],
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
