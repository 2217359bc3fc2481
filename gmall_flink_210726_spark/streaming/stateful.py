"""Custom stateful streaming operators — T4/T5/T6 via
``applyInPandasWithState`` (SURVEY §2.9, §4.2).

These are the three operators Flink implements with keyed state that
have no one-line Spark equivalent in streaming mode. Each mirrors its
batch-replay twin in operators/stateful.py; tests assert the two agree
on identical input.

Input contract (flat, Kafka-friendly): ``mid string, ts long (epoch
ms), flag string, payload string`` — ``flag`` carries the operator-
specific attribute (claimed is_new / is-entry marker), ``payload`` the
untouched event JSON, so the operators compose with any upstream shape.

Ordering: Structured Streaming does not order rows within a micro-batch;
each operator sorts its group's batch rows by (ts, payload). Cross-batch
order is the source's append order (file source: file sequence).

Scale note: state per key is O(1) (a date string / marker / one pending
event), the same footprint as the reference's ValueState. Shuffle is
one hash partition on mid per micro-batch — identical to Flink keyBy.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("mid", StringType()),
        StructField("ts", LongType()),
        StructField("flag", StringType()),
        StructField("payload", StringType()),
    ]
)

_STATE_ONE_STR = StructType([StructField("v", StringType())])
_STATE_PENDING = StructType([StructField("ts", LongType()), StructField("payload", StringType())])


def _sorted_concat(pdfs: Iterable[pd.DataFrame]) -> pd.DataFrame:
    """The group's rows in one frame, ordered by (ts, payload), ties kept
    in arrival order (a stable numpy lexsort; payload is a non-null
    string per the input contract). One frame, the usual case, is not
    copied through ``pd.concat``."""
    frames = [p for p in pdfs if len(p)]
    if not frames:
        return pd.DataFrame(columns=["mid", "ts", "flag", "payload"])
    pdf = frames[0] if len(frames) == 1 else pd.concat(frames)
    order = np.lexsort((pdf["payload"].to_numpy(), pdf["ts"].to_numpy()))
    return pdf.iloc[order]


def _fix_is_new_fn(key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """T6 — dwd/BaseLogApp.java:79-94: the seen-state is written ONLY by
    events claiming is_new='1', so the first claimed-new event keeps
    '1', later claimed-new events become '0', and '0'-claiming events
    pass through without touching state (matches the reference and the
    batch twin in plans/apps.base_log_app)."""
    pdf = _sorted_concat(pdfs)
    seen = state.exists
    claimed = (pdf["flag"] == "1").to_numpy()
    out = pdf["flag"].to_numpy(dtype=object).copy()
    # all claimed-new rows after the first seen claim are rewritten
    if claimed.any():
        if seen:
            out[claimed] = "0"
        else:
            first = claimed.nonzero()[0][0]
            later = claimed.copy()
            later[first] = False
            out[later] = "0"
            state.update(("seen",))
    pdf = pdf.assign(flag=out)
    yield pdf


def _ship(df: DataFrame) -> None:
    from gmall_flink_210726_spark.session import ship_package

    ship_package(df.sparkSession)


def streaming_fix_is_new(df: DataFrame) -> DataFrame:
    _ship(df)
    return df.groupBy("mid").applyInPandasWithState(
        _fix_is_new_fn, EVENT_SCHEMA, _STATE_ONE_STR, "append", GroupStateTimeout.NoTimeout
    )


_DAY_MS = 86_400_000


def _iso_day(day: int) -> str:
    """yyyy-MM-dd of a day number counted from the epoch."""
    return str(np.datetime64(int(day), "D"))


def _daily_uv_fn(key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """T5 — dwm/UniqueVisitApp.java:70-91: emit the mid's first event per
    day; state is the last emitted visit date (the reference's 24 h TTL
    re-keys by day — replay keeps the date string)."""
    pdf = _sorted_concat(pdfs)
    if not len(pdf):
        yield pd.DataFrame(columns=pdf.columns)
        return
    # vectorized first-per-day: with rows sorted by ts, a row is kept
    # when its UTC day (integer ms // day) differs from the previous
    # row's, the first row compared against the carried-over state date.
    # The yyyy-MM-dd state string is compared and written once per key.
    days = pdf["ts"].to_numpy(dtype=np.int64) // _DAY_MS
    keep = np.empty(len(days), dtype=bool)
    keep[1:] = days[1:] != days[:-1]
    keep[0] = not state.exists or state.get[0] != _iso_day(days[0])
    state.update((_iso_day(days[-1]),))
    yield pdf[keep]


def streaming_daily_uv(df: DataFrame) -> DataFrame:
    _ship(df)
    return df.groupBy("mid").applyInPandasWithState(
        _daily_uv_fn, EVENT_SCHEMA, _STATE_ONE_STR, "append", GroupStateTimeout.NoTimeout
    )


_JUMP_TIMEOUT_MS = 60_000


def _detect_jumps_fn(key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """T4 — dwm/UserJumpDetailApp.java:65-96, full CEP semantics:

    state = pending session-entry event (flag='entry'). On each next
    event of the mid, ordered by ts:
      - next within 60 s and also an entry  → pending is a jump (matched
        branch); next becomes pending.
      - next within 60 s, not an entry      → pending cleared (normal
        navigation).
      - next later than 60 s                → pending is a jump (timeout
        branch); next becomes pending iff it is an entry.
    An event-time timer emits a still-pending entry once the watermark
    passes pending.ts + 60 s (the CEP within-timeout with no successor).
    """
    rows_out: list[dict] = []
    mid = key[0]

    if state.hasTimedOut:
        if state.exists:
            ts, payload = state.get
            rows_out.append({"mid": mid, "ts": ts, "flag": "jump", "payload": payload})
            state.remove()
        yield pd.DataFrame(rows_out, columns=["mid", "ts", "flag", "payload"])
        return

    pdf = _sorted_concat(pdfs)
    pending: tuple[int, str] | None = tuple(state.get) if state.exists else None
    for ts, flag, payload in zip(
        pdf["ts"].astype("int64"), pdf["flag"], pdf["payload"]
    ):
        ts = int(ts)
        is_entry = flag == "entry"
        if pending is not None:
            delta = ts - pending[0]
            if delta > _JUMP_TIMEOUT_MS or is_entry:
                rows_out.append(
                    {"mid": mid, "ts": pending[0], "flag": "jump", "payload": pending[1]}
                )
            pending = None
        if is_entry:
            pending = (ts, payload)
    if pending is not None:
        deadline = pending[0] + _JUMP_TIMEOUT_MS
        # Another key may already have pushed the global watermark past
        # this pending entry's deadline — its timer can never be set
        # (Spark rejects timestamps behind the watermark); the timeout
        # branch fires now instead.
        if state.getCurrentWatermarkMs() >= deadline:
            rows_out.append(
                {"mid": mid, "ts": pending[0], "flag": "jump", "payload": pending[1]}
            )
            if state.exists:
                state.remove()
        else:
            state.update(pending)
            state.setTimeoutTimestamp(deadline)
    elif state.exists:
        state.remove()
    yield pd.DataFrame(rows_out, columns=["mid", "ts", "flag", "payload"])


def streaming_detect_jumps(df: DataFrame, watermark_delay: str = "5 seconds") -> DataFrame:
    """df needs an ``event_time`` timestamp column (for the watermark
    that drives the event-time timer; 5 s ≈ the reference's
    out-of-orderness at dwm/UserJumpDetailApp.java:56-61)."""
    import pyspark.sql.functions as F

    _ship(df)
    with_wm = df.withColumn("event_time", F.timestamp_millis("ts")).withWatermark(
        "event_time", watermark_delay
    )
    return with_wm.groupBy("mid").applyInPandasWithState(
        _detect_jumps_fn,
        EVENT_SCHEMA,
        _STATE_PENDING,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
