"""Streaming-mode driver queries — the correctness gate actually
executes ``writeStream`` (VERDICT r1 item 6).

Every other registered query exercises batch replay; the ``st*``
queries run the real Structured Streaming path end-to-end inside a
``(spark, sf_dir) -> DataFrame`` callable: file-stream source over the
driver's events parquet → streaming operator → memory sink → the
materialized result is returned as a batch DataFrame for the DuckDB
oracle compare.

- ``st1_stream_daily_uv`` drives the T5 keyed-state operator
  (``applyInPandasWithState``, streaming/stateful.py) — the streaming
  twin of dwm/UniqueVisitApp.java:50-92.
- ``st2_stream_tumble_pv`` drives a watermarked tumbling window in
  append mode — the T1/T2/T3 semantics of dws/VisitorStatsApp.java:
  100-116 (14 s watermark). Append mode only emits windows the final
  watermark (max event time − delay) has closed, so the oracle applies
  the same rule: ``window_end <= max_ms − 14000``. Spark finalizes on
  a non-strict bound; an exact tie between a window boundary and the
  watermark cannot occur here because the watermark inherits the
  events' sub-second offsets while windows are day-aligned.

Scale notes: the file-stream source is the replayed-Kafka stand-in
(no broker in the container — util/MyKafkaUtil.java:32-37 is the real
source at deploy time); state per key is O(1); the window agg is
partial+final per micro-batch exactly as in batch mode. ns→ms uses
integer ``div`` — double division is lossy above 2^53 (epoch-ns crossed
that in 1970).
"""

from __future__ import annotations

import itertools
import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_210726_spark.registry import register
from gmall_flink_210726_spark.streaming.stateful import (
    streaming_daily_uv,
    streaming_detect_jumps,
)

EVENTS_DDL = (
    "event_id bigint, ts bigint, user_id bigint, "
    "event_type string, value double, props string"
)

_sink_seq = itertools.count()


def _events_ts_is_timestamp(path: str) -> bool:
    """Probe the parquet footer (driver-side, no scan job) for the
    physical type of ``ts``: the driver has generated TIMESTAMP(NANOS)
    (rounds 1-2, read as int64 nanos under nanosAsLong) and
    TIMESTAMP(MICROS) (round 3+, read as TimestampType) testdata.

    The unit matters, not the type family: Spark rejects TIMESTAMP(NANOS)
    under a TimestampType schema ("Illegal Parquet type"), so nanos must
    fall back to the nanosAsLong bigint path even though pyarrow reports
    it as a timestamp type too."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_schema(path).field("ts").type
    return pa.types.is_timestamp(t) and t.unit != "ns"


def _read_events_stream(spark: SparkSession, glob_path: str, ts_is_timestamp: bool, **options) -> DataFrame:
    """File-stream the events table with ``ts`` normalized to epoch-NANOS
    bigint regardless of the physical type, so every downstream
    ``ts div 1000000`` (ns→ms) stays unit-correct."""
    if ts_is_timestamp:
        ddl = EVENTS_DDL.replace("ts bigint", "ts timestamp")
        reader = spark.readStream.schema(ddl)
        for k, v in options.items():
            reader = reader.option(k, v)
        return reader.parquet(glob_path).withColumn(
            "ts", F.expr("unix_micros(ts) * 1000")
        )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(EVENTS_DDL)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.parquet(glob_path)


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-stream source. The trailing glob is
    load-bearing: FileStreamSource requires a directory basePath, and a
    glob makes it resolve the parent dir instead of the file itself."""
    return _read_events_stream(
        spark,
        f"{sf_dir}/events.parque*",
        _events_ts_is_timestamp(os.path.join(sf_dir, "events.parquet")),
    )


def replay_partition_count(
    source_bytes: int, advisory_bytes: int, parallelism: int
) -> int:
    """State partitions for a bounded replay of ``source_bytes``: one per
    AQE advisory partition size of input, at least 1, at most the
    session's default parallelism."""
    return max(1, min(parallelism, -(-source_bytes // advisory_bytes)))


def _source_bytes(paths) -> int:
    total = 0
    for path in paths:
        if os.path.isdir(path):
            for root, _, files in os.walk(path):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        else:
            total += os.path.getsize(path)
    return total


@contextmanager
def replay_partitions(spark: SparkSession, *source_paths: str):
    """Pin ``spark.sql.shuffle.partitions`` for a bounded stream replay of
    ``source_paths`` (files or directories) and restore the session value
    on exit; yields the pinned count.

    A streaming query fixes its state-store partitioning at start and
    Spark disables AQE for streaming queries, so the batch path's
    partition sizing does not apply. Every state partition pays a store
    open, a delta-file write and a commit per micro-batch however few
    rows it holds, so the count follows the same rule AQE applies to
    batch shuffles: ``ceil(source_bytes / advisoryPartitionSizeInBytes)``
    clamped to ``[1, defaultParallelism]``. Every ``st*`` query replays
    files already on disk with an availableNow trigger, so the input
    bytes are known before the stream starts. The rule sees bytes, not
    per-key Python cost: an ``applyInPandasWithState`` replay whose
    per-key calls dominate runs them all on one worker when it gets one
    partition."""
    jvm = spark.sparkContext._jvm
    advisory = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    n = replay_partition_count(
        _source_bytes(source_paths), advisory, spark.sparkContext.defaultParallelism
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_to_memory(stream_df: DataFrame, prefix: str, *source_paths: str) -> str:
    """Execute the streaming plan with an availableNow trigger into a
    memory sink; returns the sink table name. availableNow processes the
    whole backlog then stops, running trailing no-data micro-batches so
    watermark-closed state flushes (noDataMicroBatches, on by default).

    The stream runs under :func:`replay_partitions` sized from
    ``source_paths``, the files the plan replays; the session's shuffle
    partitions are restored before returning, so later batch plans keep
    their own parallelism."""
    spark = stream_df.sparkSession
    name = f"{prefix}_{next(_sink_seq)}"
    with replay_partitions(spark, *source_paths):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(600)
            if not finished:  # pragma: no cover - hung stream
                raise TimeoutError(f"streaming query {name} did not finish")
        finally:
            q.stop()
    return name


@register(
    "st1_stream_daily_uv",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS dt, COUNT(DISTINCT user_id) AS uv_ct
    FROM events
    GROUP BY 1
    """,
    doc="T5 streaming twin under the driver gate: file-stream the events "
    "table through applyInPandasWithState daily-UV dedup (writeStream, "
    "append, availableNow), then count the emitted first-visits per day "
    "(dwm/UniqueVisitApp.java:50-92).",
    tags=("streaming", "stateful"),
)
def st1_stream_daily_uv(spark: SparkSession, sf_dir: str) -> DataFrame:
    flat = _stream_events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("mid"),
        F.expr("ts div 1000000").alias("ts"),
        F.lit("1").alias("flag"),
        # zero-padded so the operator's string tiebreak sorts like the
        # numeric event_id (same-ms ties stay deterministic)
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("payload"),
    )
    sink = _run_to_memory(
        streaming_daily_uv(flat), "st1_daily_uv", f"{sf_dir}/events.parquet"
    )
    kept = spark.table(sink)
    # one emitted row per (mid, day) ⇒ per-day count = distinct users
    return kept.groupBy(
        F.from_unixtime(F.expr("ts div 1000"), "yyyy-MM-dd").alias("dt")
    ).agg(F.count(F.lit(1)).alias("uv_ct"))


@register(
    "st2_stream_tumble_pv",
    oracle="""
    WITH ev AS (SELECT epoch_ms(ts) AS ms, event_type FROM events),
         wm AS (SELECT max(ms) - 14000 AS w FROM ev)
    SELECT strftime(to_timestamp((ms // 86400000) * 86400),
                    '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(to_timestamp((ms // 86400000 + 1) * 86400),
                    '%Y-%m-%d %H:%M:%S') AS edt,
           event_type, COUNT(*) AS pv_ct
    FROM ev, wm
    WHERE (ms // 86400000 + 1) * 86400000 <= w
    GROUP BY 1, 2, 3
    """,
    doc="T1-T3 under the driver gate: watermarked (14 s, per dws/"
    "VisitorStatsApp.java:100-106) tumbling-day count by event_type in "
    "append mode — only watermark-closed windows are emitted, and the "
    "oracle applies the identical window_end <= max_ms - 14000 rule.",
    tags=("streaming", "window"),
)
def st2_stream_tumble_pv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _stream_events(spark, sf_dir)
        .select(
            F.timestamp_millis(F.expr("ts div 1000000")).alias("event_time"),
            "event_type",
        )
        .withWatermark("event_time", "14 seconds")
    )
    agg = ev.groupBy(F.window("event_time", "1 day").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("pv_ct")
    )
    out = agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
        "event_type",
        "pv_ct",
    )
    sink = _run_to_memory(out, "st2_tumble_pv", f"{sf_dir}/events.parquet")
    return spark.table(sink)


@register(
    "st3_stream_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, COUNT(*) AS view_ct
    FROM events p
    JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND epoch_us(v.ts) >= epoch_us(p.ts) - 300000000
     AND epoch_us(v.ts) <= epoch_us(p.ts)
    GROUP BY 1
    """,
    doc="J1 streaming twin under the driver gate: a real watermarked "
    "stream-stream interval join (views in [-5 min, 0] of each same-"
    "user purchase, dwm/PaymentWideApp.java:86-96) through writeStream; "
    "inner joins emit matches eagerly, so no sentinel is needed and "
    "the final sink equals the batch join (j1's oracle). State on both "
    "sides is watermark-evicted — Flink's interval-join cleanup.",
    tags=("streaming", "join"),
)
def st3_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _stream_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.timestamp_millis(F.expr("ts div 1000000")).alias("event_time"),
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_uid"),
            F.col("event_time").alias("p_time"),
        )
        .withWatermark("p_time", "0 seconds")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_uid"), F.col("event_time").alias("v_time"))
        .withWatermark("v_time", "0 seconds")
    )
    joined = purchases.join(
        views,
        F.expr(
            "p_uid = v_uid AND "
            "v_time >= p_time - INTERVAL 300 SECOND AND v_time <= p_time"
        ),
    ).select("purchase_id")
    sink = _run_to_memory(joined, "st3_interval_join", f"{sf_dir}/events.parquet")
    return (
        spark.table(sink)
        .groupBy("purchase_id")
        .agg(F.count(F.lit(1)).alias("view_ct"))
    )


@register(
    "st4_stream_jump_detection",
    oracle="""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) // 1000 AS ms,
             (CAST(props->>'$.k' AS BIGINT) % 5 = 0) AS is_entry,
             lead(epoch_us(ts) // 1000) OVER w AS next_ms,
             lead((CAST(props->>'$.k' AS BIGINT) % 5 = 0)) OVER w AS next_entry
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT CAST(user_id AS VARCHAR) AS mid, ms AS ts
    FROM ev
    WHERE is_entry
      AND (next_ms IS NULL OR next_ms - ms > 60000 OR next_entry)
    """,
    doc="T4/R4 streaming twin under the driver gate: the "
    "applyInPandasWithState CEP operator (event-time timers, "
    "dwm/UserJumpDetailApp.java:65-96) run through writeStream. Entry "
    "events (props.k % 5 = 0 — a per-event stand-in for last_page_id "
    "IS NULL) are jumps when strict-next is another entry within 60 s "
    "(matched branch) or nothing follows within 60 s (timeout branch, "
    "fired by event-time timers). A far-future non-entry sentinel file "
    "advances the final watermark so trailing timers flush — the "
    "availableNow analog of a stream that keeps running.",
    tags=("streaming", "stateful"),
)
def st4_stream_jump_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    # stage events + a far-future sentinel into a temp stream dir; the
    # sentinel's mid emits nothing (non-entry, fresh key) but its ts
    # pushes the watermark past every pending entry's 60 s deadline
    stage = tempfile.mkdtemp(prefix="st4_stream_")
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, os.path.join(stage, "00_events.parquet"))
    ts_is_timestamp = _events_ts_is_timestamp(src)
    # driver-side pyarrow for the watermark bound and the sentinel file:
    # the max(ts) comes from parquet row-group statistics (footer read,
    # no scan job) and the one-row sentinel needs no Spark write job;
    # the sentinel's ts column mirrors the source's physical type so
    # one declared stream schema covers both files
    import pyarrow as pa
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(src).metadata
    ts_idx = meta.schema.names.index("ts")
    raw_max = max(
        meta.row_group(g).column(ts_idx).statistics.max
        for g in range(meta.num_row_groups)
    )
    # statistics surface as datetime-likes for timestamp columns in some
    # pyarrow versions; normalize to an integer in the column's own unit
    unit = pa.timestamp("us") if ts_is_timestamp else pa.timestamp("ns")
    day = 86_400_000_000 if ts_is_timestamp else 86_400_000_000_000
    max_ts = raw_max if isinstance(raw_max, int) else pa.scalar(raw_max).cast(unit).value
    sentinel_ts = pa.array([int(max_ts) + day], unit if ts_is_timestamp else pa.int64())
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "ts": sentinel_ts,
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array(["sentinel"]),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(['{"k": 1}']),
            }
        ),
        os.path.join(stage, "zz_sentinel.parquet"),
    )

    flat = (
        _read_events_stream(spark, stage, ts_is_timestamp, recursiveFileLookup="true")
        .select(
            F.col("user_id").cast("string").alias("mid"),
            F.expr("ts div 1000000").alias("ts"),
            F.when(
                F.get_json_object("props", "$.k").cast("long") % 5 == 0, "entry"
            ).otherwise("page").alias("flag"),
            F.lpad(F.col("event_id").cast("string"), 12, "0").alias("payload"),
        )
    )
    try:
        sink = _run_to_memory(streaming_detect_jumps(flat), "st4_jumps", stage)
    finally:
        # memory sink holds the materialized rows; the staged files are done
        shutil.rmtree(stage, ignore_errors=True)
    return spark.table(sink).filter(F.col("mid") != "-1").select("mid", "ts")


@register(
    "st5_stream_session_window",
    oracle="""
    WITH ev AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
    s AS (
      SELECT user_id, ms,
             CASE WHEN lag(ms) OVER w IS NULL
                    OR ms - lag(ms) OVER w > 1800000
                  THEN 1 ELSE 0 END AS brk
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
    g AS (
      SELECT user_id, ms,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ms
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s),
    sess AS (
      SELECT user_id, sid,
             MIN(ms) AS start_ms,
             MAX(ms) + 1800000 AS end_ms,
             COUNT(*) AS ev_ct
      FROM g GROUP BY 1, 2),
    wm AS (SELECT MAX(ms) - 14000 AS w FROM ev)
    SELECT user_id,
           strftime(to_timestamp(start_ms // 1000), '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(to_timestamp(end_ms // 1000), '%Y-%m-%d %H:%M:%S') AS edt,
           ev_ct
    FROM sess, wm WHERE end_ms <= w
    """,
    doc="Native session windows under the driver gate — the STREAMING "
    "twin of w7 (batch session_window) and w4 (islands "
    "sessionization): per-user 30-minute-gap sessions through a real "
    "watermarked (14 s) writeStream in append mode. A session window's "
    "end is last-event + gap and append emits it once the final "
    "watermark (max event time - 14 s) passes it, so the oracle "
    "rebuilds sessions with the lag/cumsum islands idiom and applies "
    "the identical end_ms <= max_ms - 14000 close rule. State per key "
    "is the open session only — watermark-evicted exactly like the "
    "tumbling case.",
    tags=("streaming", "window"),
)
def st5_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _stream_events(spark, sf_dir)
        .select(
            "user_id",
            F.timestamp_millis(F.expr("ts div 1000000")).alias("event_time"),
        )
        .withWatermark("event_time", "14 seconds")
    )
    agg = ev.groupBy(
        F.session_window("event_time", "30 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("ev_ct"))
    out = agg.select(
        "user_id",
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
        "ev_ct",
    )
    sink = _run_to_memory(out, "st5_session", f"{sf_dir}/events.parquet")
    return spark.table(sink)


@register(
    "st6_stream_foreach_batch_sink",
    oracle="""
    WITH ev AS (SELECT epoch_ms(ts) AS ms, event_type FROM events),
         wm AS (SELECT max(ms) - 14000 AS w FROM ev),
         agg AS (
           SELECT strftime(to_timestamp((ms // 600000) * 600),
                           '%Y-%m-%d %H:%M:%S') AS stt,
                  event_type,
                  COUNT(*) AS pv_ct
           FROM ev, wm
           WHERE (ms // 600000 + 1) * 600000 <= w
           GROUP BY 1, 2)
    SELECT stt, event_type, pv_ct, CAST(pv_ct AS BIGINT) % 2 AS parity
    FROM agg
""",
    doc="K3/T9 under the driver gate: a checkpointed foreachBatch "
    "pipeline end-to-end — watermarked (14 s) 10-minute tumble by "
    "event_type in append mode, each micro-batch written through "
    "append_stats_exactly_once (one overwrite-idempotent epoch_id=N "
    "partition per epoch, the retry-safe K3 sink), then the parquet "
    "table is read BACK and returned, so the driver hashes what the "
    "sink durably wrote, not what the plan computed. The parity "
    "column is a trivially recomputable checksum keeping the oracle "
    "sensitive to row duplication a non-idempotent retry would cause.",
    tags=("streaming", "sink"),
)
def st6_stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from gmall_flink_210726_spark.sinks import append_stats_exactly_once
    from gmall_flink_210726_spark.streaming.pipelines import write_foreach_batch

    out = tempfile.mkdtemp(prefix="st6_sink_")
    ckpt = tempfile.mkdtemp(prefix="st6_ckpt_")
    ev = (
        _stream_events(spark, sf_dir)
        .select(
            F.timestamp_millis(F.expr("ts div 1000000")).alias("event_time"),
            "event_type",
        )
        .withWatermark("event_time", "14 seconds")
    )
    agg = ev.groupBy(
        F.window("event_time", "10 minutes").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("pv_ct"))
    result = agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        "event_type",
        "pv_ct",
        (F.col("pv_ct") % 2).alias("parity"),
    )
    try:
        with replay_partitions(spark, f"{sf_dir}/events.parquet"):
            q = write_foreach_batch(
                result,
                lambda b, e: append_stats_exactly_once(b, e, out),
                checkpoint_dir=ckpt,
            )
            finished = q.awaitTermination(600)
            if not finished:  # pragma: no cover - hung stream
                raise TimeoutError("st6 foreachBatch stream did not finish")
            q.stop()
            # materialize the read-back BEFORE deleting the sink dir (the
            # driver collects after we return), then clean up: repeated
            # bench/parity runs must not accumulate /tmp state
            readback = (
                spark.read.parquet(out)
                .select("stt", "event_type", "pv_ct", "parity")
                .localCheckpoint(eager=True)
            )
    finally:
        import shutil

        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return readback


@register(
    "st7_stream_dedup_replay",
    oracle="""
    SELECT event_type, COUNT(*) AS ev_ct
    FROM events
    GROUP BY 1
    """,
    doc="T5/T10 watermarked streaming dedup under the driver gate: the "
    "events file is staged TWICE (an exactly-once-less replay — the "
    "at-least-once Kafka redelivery case), streamed through "
    "dropDuplicatesWithinWatermark on event_id with a watermark delay "
    "longer than the data span so the second copy arrives in-state "
    "and every duplicate drops. The oracle is the single-copy batch "
    "count — the stream result equals it ONLY if dedup removed "
    "exactly the redelivered rows. State is per-key and watermark-"
    "evicted; at deploy scale the delay bounds redelivery lag, not "
    "the dataset span.",
    tags=("streaming", "stateful"),
)
def st7_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from gmall_flink_210726_spark.streaming.pipelines import streaming_dedup

    stage = tempfile.mkdtemp(prefix="st7_replay_")
    try:
        src = os.path.join(sf_dir, "events.parquet")
        shutil.copy(src, os.path.join(stage, "00_events.parquet"))
        shutil.copy(src, os.path.join(stage, "01_events_redelivered.parquet"))
        ts_is_timestamp = _events_ts_is_timestamp(src)
        ev = _read_events_stream(
            spark, stage, ts_is_timestamp, recursiveFileLookup="true"
        ).select(
            "event_id",
            "event_type",
            F.timestamp_millis(F.expr("ts div 1000000")).alias("event_time"),
        )
        deduped = streaming_dedup(
            ev, keys=["event_id"], event_time_col="event_time", watermark="366 days"
        )
        sink = _run_to_memory(
            deduped.select("event_id", "event_type"), "st7_dedup", stage
        )
    finally:
        # memory sink holds the rows once _run_to_memory returns; the
        # staged replay files are no longer needed (matches st4)
        shutil.rmtree(stage, ignore_errors=True)
    return (
        spark.table(sink)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("ev_ct"))
    )


@register(
    "st8_stream_sliding_pv",
    oracle="""
    WITH ev AS (SELECT epoch_ms(ts) AS ms, event_type FROM events),
         wm AS (SELECT max(ms) - 14000 AS w FROM ev),
    hops AS (
      SELECT event_type, ms,
             unnest(list_transform(range(0, 4),
               k -> (ms // 21600000) * 21600000 - k * 21600000)) AS wstart
      FROM ev),
    closed AS (
      SELECT event_type, wstart FROM hops, wm
      WHERE wstart >= 0 AND wstart + 86400000 <= w)
    SELECT strftime(to_timestamp(wstart // 1000), '%Y-%m-%d %H:%M:%S') AS stt,
           event_type, COUNT(*) AS pv_ct
    FROM closed GROUP BY 1, 2
    """,
    doc="Sliding (hop) windows through the real streaming path — the "
    "watermarked (14 s) streaming twin of x9: 1-day windows sliding "
    "every 6 hours in append mode, each event expanding to 4 windows "
    "in-plan; only windows the final watermark closed are emitted, and "
    "the oracle enumerates hop starts and applies the identical "
    "wstart + duration <= max_ms - 14000 close rule.",
    tags=("streaming", "window"),
)
def st8_stream_sliding_pv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _stream_events(spark, sf_dir)
        .select(
            F.timestamp_millis(F.expr("ts div 1000000")).alias("event_time"),
            "event_type",
        )
        .withWatermark("event_time", "14 seconds")
    )
    agg = ev.groupBy(
        F.window("event_time", "1 day", "6 hours").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("pv_ct"))
    out = agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
        "event_type",
        "pv_ct",
    )
    sink = _run_to_memory(out, "st8_sliding", f"{sf_dir}/events.parquet")
    return spark.table(sink)
