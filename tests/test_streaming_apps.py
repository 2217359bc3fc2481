"""End-to-end streaming DWS apps over the log fixture: file stream of
raw JSON lines → parse/split → windowed stats in append mode; results
must equal the batch apps on the same data (final-result parity,
SURVEY §7.4 risk 4)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from gmall_flink_210726_spark import fixtures
from gmall_flink_210726_spark.plans import apps
from gmall_flink_210726_spark.streaming.apps import (
    base_log_stream,
    enrich_stream_with_dims,
    visitor_stats_stream,
)

# The sentinel is itself a search event: Catalyst pushes deterministic
# filters below the EventTimeWatermark node, so a non-matching sentinel
# would never advance the keyword query's watermark. Its own window can
# never close (nothing comes after), so it can't appear in any output.
SENTINEL = json.dumps(
    {
        "common": {"mid": "_sentinel", "vc": "v", "ch": "c", "ar": "0", "is_new": "0"},
        "page": {"page_id": "search", "last_page_id": "search", "item": "sentinelword",
                 "item_type": "keyword", "during_time": 1},
        "ts": 1_900_000_000_000,
    }
)


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_logs")

    # arrival order ≈ event-time order, as in the real log stream —
    # otherwise the watermark legitimately drops the late events (T10)
    # and the batch twin (which never drops) can't match
    def ts_of(line: str) -> int:
        try:
            return json.loads(line)["ts"]
        except json.JSONDecodeError:
            return 0

    lines = sorted(fixtures.gen_log_events(), key=ts_of)
    chunk = (len(lines) + 2) // 3
    for i in range(3):
        part = lines[i * chunk : (i + 1) * chunk]
        if i == 2:
            part = part + [SENTINEL]  # flush watermark for append mode
        p = d / f"part_{i:03d}.txt"
        p.write_text("\n".join(part))
        t = 1_700_000_000 + i * 10
        os.utime(p, (t, t))
    return str(d)


def _run(spark, df, name):
    q = df.writeStream.format("memory").queryName(name).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def _raw_stream(spark, log_dir):
    return (
        spark.readStream.schema("value string")
        .option("maxFilesPerTrigger", 1)
        .text(log_dir)
    )


class TestStreamingDws:
    def test_visitor_stats_stream_matches_batch(self, spark, log_dir):
        branches = base_log_stream(_raw_stream(spark, log_dir))
        out = _run(spark, visitor_stats_stream(branches["page"]), "vs_stream")
        got = {
            (r.stt, r.vc, r.ch, r.ar, r.is_new): (r.pv_ct, r.sv_ct, r.dur_sum)
            for r in out.collect()
            if not r.stt.startswith("2030")  # sentinel window never closes anyway
        }

        # batch twin on the same files (minus sentinel), WITHOUT the
        # is_new rewrite (the streaming shape applies T6 separately)
        raw = spark.read.text(log_dir)
        from gmall_flink_210726_spark.operators.parse import parse_json_column
        from gmall_flink_210726_spark.schemas import LOG_EVENT_SCHEMA

        good, _ = parse_json_column(raw, "value", LOG_EVENT_SCHEMA)
        page = good.filter(F.col("start").isNull()).filter(
            F.col("common.mid") != "_sentinel"
        )
        batch = (
            page.withColumn("event_time", F.timestamp_millis("ts"))
            .groupBy(
                F.window("event_time", "10 seconds").alias("w"),
                F.col("common.ar").alias("ar"),
                F.col("common.ch").alias("ch"),
                F.col("common.vc").alias("vc"),
                F.col("common.is_new").alias("is_new"),
            )
            .agg(
                F.count(F.lit(1)).alias("pv_ct"),
                F.sum(F.when(F.col("page.last_page_id").isNull(), 1).otherwise(0)).alias("sv_ct"),
                F.sum("page.during_time").alias("dur_sum"),
            )
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
                "vc", "ch", "ar", "is_new", "pv_ct", "sv_ct", "dur_sum",
            )
        )
        expected = {
            (r.stt, r.vc, r.ch, r.ar, r.is_new): (r.pv_ct, r.sv_ct, r.dur_sum)
            for r in batch.collect()
        }
        assert got == expected

    def test_keyword_stats_stream_matches_batch(self, spark, log_dir):
        branches = base_log_stream(_raw_stream(spark, log_dir))
        out = _run(spark, apps.keyword_stats_app(branches["page"]), "ks_stream")
        got = {(r.stt, r.keyword): r.ct for r in out.collect()}

        raw = spark.read.text(log_dir)
        batch_page = apps.base_log_app(raw)["page"].filter(
            F.col("common.mid") != "_sentinel"
        )
        batch = apps.keyword_stats_app(batch_page, now_ms=0)
        expected = {(r.stt, r.keyword): r.ct for r in batch.collect()}
        assert got == expected

    def test_stream_static_dim_join_sees_upserts(self, spark, log_dir, tmp_path):
        """J2 freshness contract: a dim upsert between micro-batches is
        visible to the next batch (replaces the Redis cache)."""
        from gmall_flink_210726_spark import sinks

        dim_path = str(tmp_path / "dim_sku")
        sku_dims = fixtures.gen_dims()["dim_sku_info"]
        sinks.upsert_dim_table(spark, dim_path, spark.createDataFrame(sku_dims), pk="id")

        branches = base_log_stream(_raw_stream(spark, log_dir))
        clicks = branches["page"].filter(
            (F.col("page.page_id") == "good_detail")
            & (F.col("page.item_type") == "sku_id")
        ).select(F.col("page.item").alias("sku"), "ts")
        enriched = enrich_stream_with_dims(
            clicks, sinks.read_dim_table(spark, dim_path), "sku", "id"
        )
        out = _run(spark, enriched.select("sku", "sku_name"), "enr_stream")
        rows = out.collect()
        assert len(rows) > 0
        assert all(r.sku_name is not None for r in rows)


class TestMultiBatchReplay:
    """Cross-micro-batch watermark eviction (r4 VERDICT #6): the session
    and sliding window pipelines must produce IDENTICAL final tables
    whether the events arrive as one micro-batch or one file per
    trigger — pinning that state survives batch boundaries and the
    watermark advances/evicts correctly between triggers (the way st7
    pins dedup replay)."""

    @pytest.fixture(scope="class")
    def split_events(self, tmp_path_factory):
        """Events at SF_SMALL split into 3 ts-ordered parquet files
        (file mtime = batch order, per the FileStreamSource contract)."""
        import time as _time

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from tests.conftest import SF_SMALL

        d = tmp_path_factory.mktemp("replay_events")
        src = f"{SF_SMALL}/events.parquet"
        pdf = pq.read_table(src).to_pandas().sort_values("ts")
        now = _time.time()
        for i, chunk in enumerate(np.array_split(pdf, 3)):
            p = str(d / f"{i:02d}_events.parquet")
            pq.write_table(
                pa.Table.from_pandas(chunk, preserve_index=False), p
            )
            os.utime(p, (now + i, now + i))
        return str(d)

    def _run(self, spark, stream_df, name):
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            assert q.awaitTermination(600)
            n_data_batches = sum(
                1 for p in q.recentProgress if p["numInputRows"] > 0
            )
            q.stop()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        return (
            sorted(map(tuple, spark.table(name).collect())),
            n_data_batches,
        )

    def _events(self, spark, path, per_file: bool):
        from gmall_flink_210726_spark.queries.streamq import (
            _events_ts_is_timestamp,
            _read_events_stream,
        )

        f0 = sorted(
            os.path.join(path, n)
            for n in os.listdir(path)
            if n.endswith(".parquet")
        )[0]
        opts = {"maxFilesPerTrigger": "1"} if per_file else {}
        return _read_events_stream(
            spark, path, _events_ts_is_timestamp(f0), **opts
        )

    def _session_pipeline(self, ev):
        return (
            ev.select(
                "user_id",
                F.timestamp_millis(F.expr("ts div 1000000")).alias("event_time"),
            )
            .withWatermark("event_time", "14 seconds")
            .groupBy(
                F.session_window("event_time", "30 minutes").alias("w"),
                "user_id",
            )
            .agg(F.count(F.lit(1)).alias("ev_ct"))
            .select(
                "user_id",
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
                F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("edt"),
                "ev_ct",
            )
        )

    def _sliding_pipeline(self, ev):
        return (
            ev.select(
                F.timestamp_millis(F.expr("ts div 1000000")).alias("event_time"),
                "event_type",
            )
            .withWatermark("event_time", "14 seconds")
            .groupBy(
                F.window("event_time", "1 day", "6 hours").alias("w"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("pv_ct"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("stt"),
                "event_type",
                "pv_ct",
            )
        )

    def test_session_window_multi_batch_equals_single(self, spark, split_events):
        single, nb1 = self._run(
            spark,
            self._session_pipeline(self._events(spark, split_events, False)),
            "replay_sess_single",
        )
        split, nb3 = self._run(
            spark,
            self._session_pipeline(self._events(spark, split_events, True)),
            "replay_sess_split",
        )
        assert nb3 >= 3 > nb1  # the split run really ran per-file triggers
        assert single == split
        assert len(single) > 0  # windows actually closed and emitted

    def test_sliding_window_multi_batch_equals_single(self, spark, split_events):
        single, nb1 = self._run(
            spark,
            self._sliding_pipeline(self._events(spark, split_events, False)),
            "replay_slide_single",
        )
        split, nb3 = self._run(
            spark,
            self._sliding_pipeline(self._events(spark, split_events, True)),
            "replay_slide_split",
        )
        assert nb3 >= 3 > nb1
        assert single == split
        assert len(single) > 0
