"""Structured Streaming bindings — T1/T2/T3, J1-streaming, K-series
(SURVEY §2.9, §2.2).

The batch operators in operators/ are declarative, so the streaming
variants are the same expressions bound to readStream inputs plus:

- ``withWatermark`` for the reference's per-stream delays (T1: 0 s
  ascending, T2: 2/5/14 s bounded — BASELINE.md table).
- stream-stream interval join with watermarked range condition (J1 —
  the exact Spark equivalent of Flink's intervalJoin two-sided state,
  with watermark-driven state eviction, SURVEY §2.6).
- windowed aggregation is the batch ``operators/aggregations.window_agg``
  on a watermarked stream, in append mode (emits on watermark passage ≈
  Flink window firing; equality with batch holds on final results,
  SURVEY §7.4 risk 4).
- sinks as ``foreachBatch`` (K3 JDBC-batch analog: whole micro-batch
  appended per trigger) and dynamic per-row routing (K2).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_time: str,
    right_time: str,
    lower_s: int,
    upper_s: int,
    left_watermark: str,
    right_watermark: str,
    how: str = "inner",
) -> DataFrame:
    """J1 streaming — watermarked stream-stream join with a range
    condition; Spark evicts both sides' state once the watermark passes
    the interval bound, exactly Flink's interval-join state cleanup
    (dwm/OrderWideApp.java:87-97)."""
    lhs = left.withWatermark(left_time, left_watermark).alias("l")
    rhs = right.withWatermark(right_time, right_watermark).alias("r")
    cond = F.expr(
        f"l.{left_key} = r.{right_key} AND "
        f"r.{right_time} >= l.{left_time} + INTERVAL {lower_s} SECOND AND "
        f"r.{right_time} <= l.{left_time} + INTERVAL {upper_s} SECOND"
    )
    return lhs.join(rhs, cond, how)


def streaming_dedup(
    df: DataFrame, keys: list[str], event_time_col: str, watermark: str
) -> DataFrame:
    """T5 streaming — watermarked dedup on the KEYS (first event per key
    wins, later duplicates drop), ≈ the 24 h ValueState TTL
    (dwm/UniqueVisitApp.java:61-63) with watermark-driven state expiry.

    Uses dropDuplicatesWithinWatermark so per-key state is evicted once
    the watermark passes (bounded state); keys must NOT include the
    event-time column — that would dedup on exact timestamps and keep
    every distinct-ts duplicate."""
    return df.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(keys)


def write_foreach_batch(
    df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
):
    """K3 analog — exactly-once micro-batch sink (T9: checkpointed).
    The reference batches 2 rows / 2000 ms into ClickHouse
    (util/ClickHouseUtil.java:46-49); here the batch is the trigger.
    The trigger is availableNow: the query drains the source's backlog
    in micro-batches, then stops; a restart on the same checkpoint
    resumes after the last committed epoch."""
    return (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def route_batch_to_sinks(
    batch: DataFrame,
    routes: Mapping[str, Column],
    write: Callable[[str, DataFrame], None],
) -> None:
    """R3/K2 — dynamic multi-sink routing inside one foreachBatch:
    persist the micro-batch once, write every route from it
    (SURVEY §7.4 risk 5: one materialization, N destination writes)."""
    batch.persist()
    try:
        for name, cond in routes.items():
            write(name, batch.filter(cond))
    finally:
        batch.unpersist()
