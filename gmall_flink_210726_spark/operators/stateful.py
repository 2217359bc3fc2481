"""Stateful operators, batch-replay form — T4/T5/T6 (SURVEY §2.9).

The reference implements these with Flink keyed state:

- T5 daily-UV dedup: ValueState<lastVisitDate> + 24 h TTL
  (dwm/UniqueVisitApp.java:50-92).
- T6 is_new rewrite: ValueState 'seen' marker (dwd/BaseLogApp.java:64-95).
- T4 jump/bounce CEP: strict-next pattern with 60 s timeout
  (dwm/UserJumpDetailApp.java:65-96).

Batch-replay re-expresses each as analytic window functions over the
full history — deterministic, oracle-expressible. The streaming
bindings with identical semantics live in streaming/stateful.py
(applyInPandasWithState).

Scale note: every function here shuffles once on the entity key and
sorts within partitions — the same distribution Flink's keyBy does.
Ties are broken on a unique id column so results are deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def first_per_key(
    df: DataFrame, keys: list[str], order_by: list[str | Column]
) -> DataFrame:
    """Deterministic dedup: keep the first row per key ordered by
    ``order_by`` — names sort ascending, a ``Column`` sorts as given
    (T5 — 'first visit of the day wins'; CDC compaction — 'latest
    change wins' with ``desc()``). Equivalent to dropDuplicates but
    reproducible, hence oracle-comparable: the ordering must end on a
    unique column so the survivor is the same on every replay. One
    shuffle on the key; no state."""
    order = [F.col(c).asc() if isinstance(c, str) else c for c in order_by]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def daily_unique_visitors(
    df: DataFrame, key: str, ts_col: str, tiebreak: str
) -> DataFrame:
    """T5 — one row per (key, day): the day's first event.
    dwm/UniqueVisitApp.java:70-91 keeps state per mid with a day-scoped
    TTL; replay form partitions by (key, date)."""
    with_day = df.withColumn("dt", F.date_format(F.col(ts_col), "yyyy-MM-dd"))
    return first_per_key(with_day, [key, "dt"], [ts_col, tiebreak])


def rewrite_is_new(
    df: DataFrame, key: str, ts_col: str, tiebreak: str, out_col: str = "is_new"
) -> DataFrame:
    """T6 — flag each event 1 on the key's first-ever event, else 0.
    The reference rewrites a client-claimed is_new using seen-state
    (dwd/BaseLogApp.java:79-94); replay form derives it exactly."""
    w = Window.partitionBy(key).orderBy(F.col(ts_col).asc(), F.col(tiebreak).asc())
    return df.withColumn(
        out_col, F.when(F.row_number().over(w) == 1, F.lit(1)).otherwise(F.lit(0))
    )


def detect_jumps(
    df: DataFrame,
    key: str,
    ts_col: str,
    tiebreak: str,
    entry_gap_s: int = 1800,
    jump_timeout_s: int = 60,
) -> DataFrame:
    """T4 — bounce detection, batch-replay form.

    The reference's CEP pattern (dwm/UserJumpDetailApp.java:65-96) fires
    on a session-entry event followed strictly by another entry within
    60 s, or by nothing (timeout); both branches emit the first entry —
    i.e. an entry whose visit had no second page within the timeout.

    Driver-table mapping: an event is a session entry when the previous
    event of the same key is more than ``entry_gap`` older (or absent) —
    the analog of last_page_id IS NULL. The entry is a jump when the
    next event of the key is more than ``jump_timeout`` later or absent.
    lag/lead over (key, ts) reproduce both CEP branches in one pass.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts_col).asc(), F.col(tiebreak).asc())
    us = F.expr(f"unix_micros({ts_col})")
    prev_us, next_us = F.lag(us).over(w), F.lead(us).over(w)
    is_entry = prev_us.isNull() | (us - prev_us > F.lit(entry_gap_s * 1_000_000))
    is_jump_if_entry = next_us.isNull() | (next_us - us > F.lit(jump_timeout_s * 1_000_000))
    return df.withColumn("is_entry", is_entry).withColumn(
        "is_jump", is_entry & is_jump_if_entry
    )
