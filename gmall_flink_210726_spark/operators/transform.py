"""Row transforms — P7 (SURVEY §2.3) and SCD2 validity intervals.

Derived-column projection and change-stream interval building. All
pure Column expressions: JVM-side, codegen'd, pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def derive_datetime(df: DataFrame, ts_col: str) -> DataFrame:
    """P7 — split an event-time column into date / hour / epoch-ms
    derivatives (dwm/OrderWideApp.java:57-64). Works for TimestampType."""
    c = F.col(ts_col)
    return (
        df.withColumn("create_date", F.date_format(c, "yyyy-MM-dd"))
        .withColumn("create_hour", F.hour(c))
        .withColumn("create_ts", F.expr(f"unix_micros({ts_col}) div 1000"))
    )


def scd2_intervals(
    changes: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    end_of_time: str = "9999-12-31 00:00:00",
) -> DataFrame:
    """Type-2 slowly-changing-dimension build: turn a change stream
    (one row per attribute change) into validity intervals — each row
    gains ``valid_from`` (its own change time), ``valid_to`` (the next
    change's time for the key, or ``end_of_time``), and ``is_current``.
    The complement of the K4 upsert (SCD1, latest-wins): SCD1 serves
    lookups, SCD2 serves as-of history joins.

    One window per key ordered by (ts, tiebreak) — a single shuffle on
    the key, no self-join; ties are broken deterministically so equal
    timestamps produce a stable chain."""
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(tiebreak_col))
    nxt = F.lead(ts_col).over(w)
    return (
        changes.withColumn("valid_from", F.col(ts_col))
        .withColumn(
            "valid_to",
            F.coalesce(nxt, F.lit(end_of_time).cast("timestamp")),
        )
        .withColumn("is_current", nxt.isNull())
    )
