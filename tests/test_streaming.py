"""Streaming-semantics tests (SURVEY §5.3): each stateful streaming
operator must agree with its batch-replay twin on identical input, and
the streaming window/join bindings must agree with the batch operators.

Technique: file source with maxFilesPerTrigger=1 (deterministic
micro-batches in file order), memory sink, processAllAvailable(). A
far-future sentinel event in the last file advances the watermark so
event-time timers and append-mode windows flush.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from gmall_flink_210726_spark import fixtures
from gmall_flink_210726_spark.streaming.pipelines import (
    streaming_interval_join,
    streaming_tumbling_agg,
)
from gmall_flink_210726_spark.streaming.stateful import (
    streaming_daily_uv,
    streaming_detect_jumps,
    streaming_fix_is_new,
)

SENTINEL_TS = 1_900_000_000_000  # far future: flushes watermarks


def _flat_events(n_visits=120):
    """Flatten the log fixture to the (mid, ts, flag, payload) contract,
    ordered by ts; flag = claimed is_new for T6, entry marker for T4/T5."""
    rows = []
    for line in fixtures.gen_log_events(n_visits):
        try:
            e = json.loads(line)
        except json.JSONDecodeError:
            continue
        if "page" not in e:
            continue
        rows.append(
            {
                "mid": e["common"]["mid"],
                "ts": e["ts"],
                "is_new": e["common"]["is_new"],
                "is_entry": e["page"]["last_page_id"] is None,
                "payload": json.dumps(e, sort_keys=True),
            }
        )
    rows.sort(key=lambda r: (r["ts"], r["payload"]))
    return rows


def _write_batches(tmpdir, rows, flag_field, n_files=3, sentinel=True):
    """Split rows (ts-ordered) into n sequential JSON files."""
    chunk = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        part = rows[i * chunk : (i + 1) * chunk]
        recs = [
            {"mid": r["mid"], "ts": r["ts"], "flag": str(r[flag_field]) if flag_field == "is_new" else ("entry" if r[flag_field] else "page"), "payload": r["payload"]}
            for r in part
        ]
        if sentinel and i == n_files - 1:
            recs.append({"mid": "_sentinel", "ts": SENTINEL_TS, "flag": "page", "payload": "{}"})
        path = f"{tmpdir}/batch_{i:03d}.json"
        with open(path, "w") as f:
            for rec in recs:
                f.write(json.dumps(rec) + "\n")
        # FileStreamSource orders files by modification time; same-ms
        # mtimes would make micro-batch order nondeterministic.
        import os

        t = 1_700_000_000 + i * 10
        os.utime(path, (t, t))


def _run_stream(spark, stream_df, name):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def _stream_source(spark, tmpdir):
    return (
        spark.readStream.schema("mid string, ts long, flag string, payload string")
        .option("maxFilesPerTrigger", 1)
        .json(tmpdir)
    )


class TestStatefulStreaming:
    def test_fix_is_new_matches_batch(self, spark, tmp_path):
        rows = _flat_events()
        _write_batches(str(tmp_path), rows, "is_new", sentinel=False)
        out = _run_stream(
            spark, streaming_fix_is_new(_stream_source(spark, str(tmp_path))), "t6_out"
        )
        # reference ground truth (BaseLogApp.java:79-94): only CLAIMED-new
        # events burn the seen-marker — claimed '1' survives on the mid's
        # first claimed-new event; '0'-claims pass through untouched
        seen: dict[str, bool] = {}
        expected = {}
        for r in rows:
            flag = r["is_new"]
            if flag == "1":
                if seen.get(r["mid"]):
                    flag = "0"
                else:
                    seen[r["mid"]] = True
            expected[(r["mid"], r["ts"], r["payload"])] = flag
        got = {
            (r.mid, r.ts, r.payload): r.flag for r in out.collect()
        }
        assert len(got) == len(expected)
        assert got == expected

    def test_daily_uv_matches_batch(self, spark, tmp_path):
        rows = [r for r in _flat_events() if r["is_entry"]]
        _write_batches(str(tmp_path), rows, "is_entry", sentinel=False)
        src = _stream_source(spark, str(tmp_path))
        out = _run_stream(spark, streaming_daily_uv(src), "t5_out")
        import pandas as pd

        expected = {}
        last_date: dict[str, str] = {}
        for r in rows:
            day = pd.Timestamp(r["ts"], unit="ms").strftime("%Y-%m-%d")
            if last_date.get(r["mid"]) != day:
                expected[(r["mid"], r["ts"])] = True
                last_date[r["mid"]] = day
        got = {(r.mid, r.ts) for r in out.collect()}
        assert got == set(expected)

    def test_detect_jumps_matches_cep_semantics(self, spark, tmp_path):
        rows = _flat_events()
        _write_batches(str(tmp_path), rows, "is_entry", sentinel=True)
        src = _stream_source(spark, str(tmp_path))
        out = _run_stream(spark, streaming_detect_jumps(src), "t4_out")

        # python CEP simulation (same rules as the reference pattern)
        expected = set()
        by_mid: dict[str, list] = {}
        for r in rows:
            by_mid.setdefault(r["mid"], []).append(r)
        for mid, evts in by_mid.items():
            pending = None
            for r in evts:
                if pending is not None:
                    delta = r["ts"] - pending["ts"]
                    if delta > 60_000 or r["is_entry"]:
                        expected.add((mid, pending["ts"]))
                    pending = None
                if r["is_entry"]:
                    pending = r
            if pending is not None:  # timeout fires via sentinel watermark
                expected.add((mid, pending["ts"]))
        got = {(r.mid, r.ts) for r in out.collect()}
        assert got == expected


class TestStreamingDedup:
    def test_dedup_keeps_one_row_per_key(self, spark, tmp_path):
        """streaming_dedup must dedup on the KEYS — distinct timestamps
        for the same key are duplicates, not distinct rows."""
        import os

        from gmall_flink_210726_spark.streaming.pipelines import streaming_dedup

        p = tmp_path / "b0.json"
        rows = [
            {"mid": "m1", "dt": "2024-06-01", "ts": 1_717_200_000_000},
            {"mid": "m1", "dt": "2024-06-01", "ts": 1_717_200_300_000},  # later same day
            {"mid": "m1", "dt": "2024-06-02", "ts": 1_717_286_400_000},
            {"mid": "m2", "dt": "2024-06-01", "ts": 1_717_200_100_000},
        ]
        p.write_text("\n".join(json.dumps(r) for r in rows))
        os.utime(p, (1_700_000_000, 1_700_000_000))
        src = (
            spark.readStream.schema("mid string, dt string, ts long")
            .json(str(tmp_path))
            .withColumn("event_time", F.timestamp_millis("ts"))
        )
        out = _run_stream(
            spark,
            streaming_dedup(src, ["mid", "dt"], "event_time", "1 hour"),
            "dedup_out",
        )
        got = {(r.mid, r.dt) for r in out.collect()}
        assert got == {("m1", "2024-06-01"), ("m1", "2024-06-02"), ("m2", "2024-06-01")}
        assert out.count() == 3  # the 10:05 duplicate of (m1, 06-01) dropped


class TestStreamingBindings:
    def test_tumbling_agg_matches_batch(self, spark, tmp_path):
        rows = _flat_events()
        _write_batches(str(tmp_path), rows, "is_entry", sentinel=True)
        src = _stream_source(spark, str(tmp_path)).withColumn(
            "event_time", F.timestamp_millis("ts")
        )
        agg = streaming_tumbling_agg(
            src,
            "event_time",
            "10 minutes",
            ["mid"],
            [F.count(F.lit(1)).alias("ct")],
            watermark="2 seconds",
        ).select(F.col("window.start").alias("ws"), "mid", "ct")
        out = _run_stream(spark, agg, "agg_out")
        got = {(r.ws, r.mid): r.ct for r in out.collect() if r.mid != "_sentinel"}

        batch = (
            spark.createDataFrame([(r["mid"], r["ts"]) for r in rows], "mid string, ts long")
            .withColumn("event_time", F.timestamp_millis("ts"))
            .groupBy(F.window("event_time", "10 minutes").alias("w"), "mid")
            .agg(F.count(F.lit(1)).alias("ct"))
            .select(F.col("w.start").alias("ws"), "mid", "ct")
        )
        expected = {(r.ws, r.mid): r.ct for r in batch.collect()}
        assert got == expected

    def test_stream_stream_interval_join_matches_batch(self, spark, tmp_path):
        orders, details, _ = fixtures.gen_business_rows(n_orders=30)
        o_dir, d_dir = tmp_path / "o", tmp_path / "d"
        o_dir.mkdir(), d_dir.mkdir()
        with open(o_dir / "o.json", "w") as f:
            for o in orders:
                f.write(json.dumps({"order_id": o["id"], "create_time": o["create_time"]}) + "\n")
        with open(d_dir / "d.json", "w") as f:
            for d in details:
                f.write(json.dumps({"detail_id": d["id"], "detail_order_id": d["order_id"], "detail_time": d["create_time"]}) + "\n")

        o_stream = (
            spark.readStream.schema("order_id long, create_time string").json(str(o_dir))
            .withColumn("o_time", F.to_timestamp("create_time"))
        )
        d_stream = (
            spark.readStream.schema("detail_id long, detail_order_id long, detail_time string").json(str(d_dir))
            .withColumn("d_time", F.to_timestamp("detail_time"))
        )
        joined = streaming_interval_join(
            o_stream, d_stream, "order_id", "detail_order_id",
            "o_time", "d_time", -5, 5, "10 seconds", "10 seconds",
        ).select("order_id", "detail_id")
        out = _run_stream(spark, joined, "j1_out")
        got = {(r.order_id, r.detail_id) for r in out.collect()}

        from datetime import datetime

        o_time = {o["id"]: datetime.strptime(o["create_time"], "%Y-%m-%d %H:%M:%S") for o in orders}
        expected = {
            (d["order_id"], d["id"])
            for d in details
            if abs((datetime.strptime(d["create_time"], "%Y-%m-%d %H:%M:%S") - o_time[d["order_id"]]).total_seconds()) <= 5
        }
        assert got == expected


class TestTsProbe:
    """The footer probe must route on the timestamp UNIT, not the type
    family: TIMESTAMP(NANOS) is a pyarrow timestamp type too, but Spark
    rejects it under a TimestampType schema — nanos must take the
    nanosAsLong bigint path (queries/streamq.py)."""

    def test_micros_routes_to_timestamp(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from gmall_flink_210726_spark.queries.streamq import _events_ts_is_timestamp

        p = str(tmp_path / "micros.parquet")
        pq.write_table(
            pa.table({"ts": pa.array([1, 2], pa.timestamp("us"))}), p
        )
        assert _events_ts_is_timestamp(p) is True

    def test_nanos_routes_to_bigint(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from gmall_flink_210726_spark.queries.streamq import _events_ts_is_timestamp

        p = str(tmp_path / "nanos.parquet")
        pq.write_table(
            pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}),
            p,
            use_deprecated_int96_timestamps=False,
            coerce_timestamps=None,
        )
        assert _events_ts_is_timestamp(p) is False

    def test_bigint_routes_to_bigint(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from gmall_flink_210726_spark.queries.streamq import _events_ts_is_timestamp

        p = str(tmp_path / "int.parquet")
        pq.write_table(pa.table({"ts": pa.array([1, 2], pa.int64())}), p)
        assert _events_ts_is_timestamp(p) is False


class TestStreamStaticEnrich:
    def test_st21_agrees_with_batch_join(self, spark):
        """The stream-static enrichment must equal the same join run
        as one batch plan (stream-static inner joins are stateless, so
        the availableNow replay is exactly the batch semantics)."""
        from gmall_flink_210726_spark.registry import load_all
        from gmall_flink_210726_spark.sources.batch import load_table
        from pyspark.sql import functions as F
        from tests.conftest import SF_SMALL

        got = {
            tuple(r)
            for r in load_all()["st21_stream_static_enrich"]
            .fn(spark, SF_SMALL)
            .collect()
        }
        ev = load_table(spark, SF_SMALL, "events").select(
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        cust = load_table(spark, SF_SMALL, "customer").select(
            "c_custkey", "c_nationkey"
        )
        nation = load_table(spark, SF_SMALL, "nation").select(
            "n_nationkey", F.col("n_name").alias("nation")
        )
        want = {
            tuple(r)
            for r in ev.join(
                cust, F.col("c_custkey") == F.col("user_id") + 1
            )
            .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("nation")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum("cents").cast("long").alias("revenue_cents"),
            )
            .collect()
        }
        assert got == want


class TestReplayPartitions:
    """Stream replays size their state partitions from the input bytes
    (queries/streamq.py:replay_partitions), the rule AQE applies to
    batch shuffles."""

    def test_small_input_gets_one_partition(self):
        from gmall_flink_210726_spark.queries.streamq import replay_partition_count

        assert replay_partition_count(0, 64 << 20, 4) == 1
        assert replay_partition_count(221_075, 64 << 20, 4) == 1

    def test_large_input_clamps_to_parallelism(self):
        from gmall_flink_210726_spark.queries.streamq import replay_partition_count

        assert replay_partition_count(3 * (64 << 20), 64 << 20, 4) == 3
        assert replay_partition_count(1 << 50, 64 << 20, 4) == 4

    def test_session_value_restored_when_block_raises(self, spark, tmp_path):
        from gmall_flink_210726_spark.queries.streamq import replay_partitions

        src = tmp_path / "in.bin"
        src.write_bytes(b"x" * 1024)
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        with pytest.raises(RuntimeError, match="boom"):
            with replay_partitions(spark, str(src), str(tmp_path)) as n:
                assert n == 1
                assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
                raise RuntimeError("boom")
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    def test_st1_state_store_uses_sized_partitions(self, spark):
        import time

        from pyspark.sql.streaming import StreamingQueryListener

        from gmall_flink_210726_spark.registry import load_all
        from tests.conftest import SF_SMALL

        class Progress(StreamingQueryListener):
            def __init__(self):
                self.ids, self.last, self.done = set(), None, set()

            def onQueryStarted(self, event):
                if (event.name or "").startswith("st1_daily_uv"):
                    self.ids.add(event.id)

            def onQueryProgress(self, event):
                if event.progress.id in self.ids:
                    self.last = json.loads(event.progress.json)

            def onQueryTerminated(self, event):
                self.done.add(event.id)

        listener = Progress()
        spark.streams.addListener(listener)
        try:
            load_all()["st1_stream_daily_uv"].fn(spark, SF_SMALL).collect()
            end = time.monotonic() + 30
            while not (listener.ids and listener.ids <= listener.done):
                assert time.monotonic() < end, "no terminated event for st1"
                time.sleep(0.1)
        finally:
            spark.streams.removeListener(listener)
        assert listener.last["stateOperators"][0]["numShufflePartitions"] == 1
