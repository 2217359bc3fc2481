"""Windowed / keyed aggregations — A1-A6 from SURVEY.md §2.7.

The reference hand-rolls incremental window reduces with accumulator
POJOs and distinct-id HashSets (dws/ProductStatsApp.java:202-241,
dws/VisitorStatsApp.java:108-141). In Spark the same semantics are a
declarative ``groupBy(window(ts, d), *keys).agg(...)`` — Catalyst plans
a partial (map-side) + final hash aggregate, which IS the reference's
per-record incremental reduce, minus the hand-written state.

Scale note (100 TB): hash aggregation shuffles once on
(window, *keys); AQE coalesces small post-shuffle partitions and
splits skewed ones. Exact distinct counts add a second internal
shuffle (expand + two-phase agg).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gmall_flink_210726_spark.functions.scalar import DT_FMT


def window_agg(
    df: DataFrame, window: Column, keys: Sequence[str], aggs: Sequence[Column]
) -> DataFrame:
    """A1/A2/T3 — keyed event-time window aggregate with the reference's
    ``stt``/``edt`` window-bound stamping (dws/ProductStatsApp.java:
    230-241): ``stt``, ``edt``, the keys, then the aggregates.

    ``window`` is any window column: ``F.window`` (tumbling or sliding)
    or ``F.session_window``. The same call is the batch and the
    streaming form: on a stream with ``withWatermark`` upstream, append
    mode emits each window once, when the watermark passes its end
    (T10: later events are dropped in both engines).
    """
    out = df.groupBy(window.alias("w"), *keys).agg(*aggs)
    return out.select(
        F.date_format("w.start", DT_FMT).alias("stt"),
        F.date_format("w.end", DT_FMT).alias("edt"),
        *keys,
        *[c for c in out.columns if c != "w" and c not in keys],
    )


def distinct_count(col: str, alias: str) -> Column:
    """A3 — exact distinct count inside a window. The reference carries
    a HashSet in the accumulator and counts its size
    (bean/ProductStats.java:75-86); Spark plans a two-phase distinct
    aggregate."""
    return F.countDistinct(col).alias(alias)
