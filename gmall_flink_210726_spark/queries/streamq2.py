r"""Streaming wave 2: bounded-state sketch maintenance under the
driver's correctness gate.

st9 maintains a count-min sketch over the event stream through a real
checkpointed foreachBatch pipeline: every micro-batch reduces its rows
to partial sketch CELLS (j, ctr, cell — at most 1024 rows per epoch,
the entire point of a sketch at 100 TB: per-epoch state is constant
regardless of batch volume) and writes them through the
overwrite-idempotent epoch-partition sink, so a retried epoch replaces
rather than double-counts its cells. The merged sketch is the SUM of
cells across epochs — CMS cells are additive, which is exactly what
makes the replay-safe epoch merge equal the single-pass batch sketch.
The oracle rebuilds the identical sketch from the batch table (the
cms_estimate md5 contract, queries/llm6.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_210726_spark.queries.streamq import replay_partitions
from gmall_flink_210726_spark.registry import register
from gmall_flink_210726_spark.sources.batch import load_table

_HASH60 = (
    "list_sum([(strpos('0123456789abcdef', substr({h}, i, 1)) - 1)"
    " * (CAST(1 AS BIGINT) << (4 * (15 - i))) for i in range(1, 16)])"
)


@register(
    "st9_stream_cms_sketch",
    oracle=f"""
    WITH uc AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS ct
                FROM events GROUP BY user_id),
    kj AS (SELECT user_id, ct, unnest([0, 1, 2, 3]) AS j FROM uc),
    kh AS (SELECT user_id, ct, j,
             {_HASH60.format(h="md5(CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR))")} % 256
               AS ctr
           FROM kj),
    sk AS (SELECT j, ctr, SUM(ct) AS cell FROM kh GROUP BY 1, 2)
    SELECT user_id, MAX(ct) AS exact_ct, CAST(MIN(cell) AS BIGINT) AS cms_est
    FROM kh JOIN sk USING (j, ctr) GROUP BY user_id
    """,
    doc="Streaming count-min sketch maintenance (T9 + sketch): each "
    "micro-batch writes its <=1024 partial cells through the "
    "idempotent epoch-partition sink (constant per-epoch state however "
    "large the batch), the merged sketch is the cross-epoch cell sum "
    "(CMS additivity == replay-safe merge == single-pass batch "
    "sketch), then per-user frequencies are probed from the durable "
    "merged cells. The oracle rebuilds the identical md5 sketch from "
    "the batch table. operators/sketch.py:cms_cells/cms_probe",
    tags=("streaming", "sketch", "sink"),
)
def st9_stream_cms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from gmall_flink_210726_spark.operators.sketch import cms_cells, cms_probe
    from gmall_flink_210726_spark.queries.streamq import _stream_events
    from gmall_flink_210726_spark.sinks import append_stats_exactly_once
    from gmall_flink_210726_spark.streaming.pipelines import write_foreach_batch

    out = tempfile.mkdtemp(prefix="st9_cells_")
    ckpt = tempfile.mkdtemp(prefix="st9_ckpt_")
    ev = _stream_events(spark, sf_dir).select("user_id")

    def _write_cells(batch: DataFrame, epoch: int) -> None:
        counts = batch.groupBy("user_id").agg(F.count(F.lit(1)).alias("ct"))
        append_stats_exactly_once(
            cms_cells(counts, "user_id", "ct"), epoch, out
        )

    try:
        with replay_partitions(spark, f"{sf_dir}/events.parquet"):
            q = write_foreach_batch(ev, _write_cells, checkpoint_dir=ckpt)
            finished = q.awaitTermination(600)
            if not finished:  # pragma: no cover - hung stream
                raise TimeoutError("st9 sketch stream did not finish")
            q.stop()
            merged = (
                spark.read.parquet(out)
                .groupBy("j", "ctr")
                .agg(F.sum("cell").alias("cell"))
            )
            exact = (
                load_table(spark, sf_dir, "events")
                .groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("ct"))
            )
            result = cms_probe(merged, exact, "user_id", "ct").localCheckpoint(
                eager=True
            )
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return result


@register(
    "st10_stream_hll_merge",
    oracle=f"""
    WITH ded AS (SELECT DISTINCT user_id FROM events),
    hv AS (SELECT user_id,
             {_HASH60.format(h="md5(CAST(user_id AS VARCHAR))")} AS h60
           FROM ded),
    rg AS (SELECT h60 % 64 AS reg,
                  CASE WHEN h60 // 64 = 0 THEN 55
                       ELSE 55 - length(bin(h60 // 64)) END AS rho
           FROM hv),
    mx AS (SELECT reg, MAX(rho) AS m FROM rg GROUP BY 1),
    pg AS (SELECT SUM(power(2.0, -m)) AS s_obs, COUNT(*) AS n_regs FROM mx),
    ex AS (SELECT COUNT(*) AS exact_distinct FROM ded)
    SELECT 'all' AS scope,
           round(CASE WHEN 0.709 * 64 * 64 / (s_obs + (64 - n_regs)) <= 160.0
                           AND 64 - n_regs > 0
                      THEN 64.0 * ln(64.0 / (64 - n_regs))
                      ELSE 0.709 * 64 * 64 / (s_obs + (64 - n_regs)) END, 4)
             AS hll_estimate,
           CAST(exact_distinct AS BIGINT) AS exact_distinct
    FROM pg, ex
    """,
    doc="Streaming HyperLogLog maintenance — the MAX-merge sketch "
    "algebra next to st9's SUM-merge CMS: each micro-batch writes its "
    "<=64-row register partial through the idempotent epoch-partition "
    "sink; the merged sketch is the cross-epoch per-register MAX, "
    "which equals the single-pass registers even under epoch retry OR "
    "overlapping key slices (max is idempotent AND duplicate-"
    "insensitive — strictly stronger replay safety than additive "
    "cells). The oracle rebuilds the identical md5 registers from the "
    "batch table. operators/sketch.py:hll_registers",
    tags=("streaming", "sketch", "sink"),
)
def st10_stream_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from gmall_flink_210726_spark.operators.sketch import (
        hll_estimate_from_registers,
        hll_registers,
    )
    from gmall_flink_210726_spark.queries.streamq import _stream_events
    from gmall_flink_210726_spark.sinks import append_stats_exactly_once
    from gmall_flink_210726_spark.streaming.pipelines import write_foreach_batch

    out = tempfile.mkdtemp(prefix="st10_regs_")
    ckpt = tempfile.mkdtemp(prefix="st10_ckpt_")
    ev = _stream_events(spark, sf_dir).select("user_id")

    def _write_regs(batch: DataFrame, epoch: int) -> None:
        keyed = batch.select("user_id").distinct()
        append_stats_exactly_once(
            hll_registers(keyed, [], "user_id"), epoch, out
        )

    try:
        with replay_partitions(spark, f"{sf_dir}/events.parquet"):
            q = write_foreach_batch(ev, _write_regs, checkpoint_dir=ckpt)
            finished = q.awaitTermination(600)
            if not finished:  # pragma: no cover - hung stream
                raise TimeoutError("st10 sketch stream did not finish")
            q.stop()
            merged = (
                spark.read.parquet(out)
                .groupBy("reg")
                .agg(F.max("m").alias("m"))
                .withColumn("scope", F.lit("all"))
            )
            est = hll_estimate_from_registers(merged, ["scope"])
            exact = (
                load_table(spark, sf_dir, "events")
                .agg(F.count_distinct("user_id").alias("exact_distinct"))
                .withColumn("scope", F.lit("all"))
            )
            result = est.join(exact, "scope").localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return result


@register(
    "st11_stream_left_outer_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           CAST(COUNT(v.user_id) AS BIGINT) AS view_ct
    FROM events p
    LEFT JOIN events v
      ON p.user_id = v.user_id
     AND v.event_type = 'view'
     AND epoch_us(v.ts) >= epoch_us(p.ts) - 300000000
     AND epoch_us(v.ts) <= epoch_us(p.ts)
    WHERE p.event_type = 'purchase'
    GROUP BY 1
    """,
    doc="LEFT OUTER watermarked stream-stream interval join — the "
    "st3 inner-join twin plus the shape it cannot show: null-padded "
    "rows for match-less purchases emit only when the global watermark "
    "evicts the buffered left row (Flink's outer interval-join "
    "semantics, dwm/PaymentWideApp.java:86-96 generalized). A "
    "two-row far-future sentinel file (one row per filtered side, so "
    "each side's post-filter watermark node sees it — Catalyst pushes "
    "the event_type filters below EventTimeWatermark) advances both "
    "watermarks past every real purchase, flushing all pending "
    "unmatched state in the trailing no-data micro-batches. Sentinel "
    "user ids are negative so they can never join a real row, and the "
    "sentinel purchase itself stays in state (nothing outruns ITS "
    "timestamp) and never reaches the sink.",
    tags=("streaming", "join"),
)
def st11_stream_left_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import shutil
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmall_flink_210726_spark.queries.streamq import (
        _events_ts_is_timestamp,
        _read_events_stream,
        _run_to_memory,
    )

    stage = tempfile.mkdtemp(prefix="st11_stream_")
    try:
        src = os.path.join(sf_dir, "events.parquet")
        shutil.copy(src, os.path.join(stage, "00_events.parquet"))
        ts_is_timestamp = _events_ts_is_timestamp(src)
        meta = pq.ParquetFile(src).metadata
        ts_idx = meta.schema.names.index("ts")
        raw_max = max(
            meta.row_group(g).column(ts_idx).statistics.max
            for g in range(meta.num_row_groups)
        )
        unit = pa.timestamp("us") if ts_is_timestamp else pa.timestamp("ns")
        day = 86_400_000_000 if ts_is_timestamp else 86_400_000_000_000
        max_ts = (
            raw_max
            if isinstance(raw_max, int)
            else pa.scalar(raw_max).cast(unit).value
        )
        sent_ts = pa.array(
            [int(max_ts) + day] * 2, unit if ts_is_timestamp else pa.int64()
        )
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([-1, -2], pa.int64()),
                    "ts": sent_ts,
                    "user_id": pa.array([-1, -2], pa.int64()),
                    "event_type": pa.array(["purchase", "view"]),
                    "value": pa.array([0.0, 0.0], pa.float64()),
                    "props": pa.array(['{"k": 1}', '{"k": 1}']),
                }
            ),
            os.path.join(stage, "zz_sentinel.parquet"),
        )
        ev = _read_events_stream(
            spark, f"{stage}/*.parquet", ts_is_timestamp, maxFilesPerTrigger=1
        ).select(
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
            .select(
                F.col("user_id").alias("v_uid"),
                F.col("event_time").alias("v_time"),
            )
            .withWatermark("v_time", "0 seconds")
        )
        joined = purchases.join(
            views,
            F.expr(
                "p_uid = v_uid AND "
                "v_time >= p_time - INTERVAL 300 SECOND AND v_time <= p_time"
            ),
            "left_outer",
        ).select("purchase_id", "v_uid")
        sink = _run_to_memory(joined, "st11_left_outer", stage)
        return (
            spark.table(sink)
            .filter(F.col("purchase_id") >= 0)
            .groupBy("purchase_id")
            .agg(F.count("v_uid").alias("view_ct"))
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)


@register(
    "st12_stream_bloom_build",
    oracle="""
    WITH mem AS (SELECT DISTINCT user_id AS k FROM events),
    pr AS (SELECT k FROM mem
           UNION
           SELECT k + 1000000000 FROM mem),
    mb AS (SELECT DISTINCT
             CAST(('0x' || substring(
               md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)),
               1, 15)) AS BIGINT) % 8192 AS bit
           FROM mem, range(4) AS u(j)),
    pb AS (SELECT k, j,
             CAST(('0x' || substring(
               md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)),
               1, 15)) AS BIGINT) % 8192 AS bit
           FROM pr, range(4) AS u(j)),
    hits AS (SELECT pb.k, COUNT(mb.bit) = 4 AS bloom_pass
             FROM pb LEFT JOIN mb USING (bit) GROUP BY pb.k),
    truth AS (SELECT h.k, h.bloom_pass, m.k IS NOT NULL AS is_member
              FROM hits h LEFT JOIN mem m ON h.k = m.k)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           CAST(SUM(CASE WHEN bloom_pass AND NOT is_member
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN is_member AND NOT bloom_pass
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg
    FROM truth
    """,
    doc="Streaming Bloom-filter maintenance — the OR-merge sketch "
    "algebra completing the st9 (SUM-merge CMS) / st10 (MAX-merge HLL) "
    "trio: each micro-batch writes its distinct set-bit partial "
    "(<= 8192 rows however large the batch) through the idempotent "
    "epoch-partition sink, and the merged filter is the cross-epoch "
    "DISTINCT of bits — set-union is idempotent and duplicate-"
    "insensitive, so a replayed epoch changes nothing. Probes are "
    "every seen user_id (must ALL pass: Bloom never false-negatives) "
    "plus the same ids shifted by 10^9 (guaranteed non-members — the "
    "observed-FPR set); the oracle rebuilds the identical filter from "
    "the batch table. operators/sketch.py:bloom_filter_calibration",
    tags=("streaming", "sketch", "sink"),
)
def st12_stream_bloom_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from gmall_flink_210726_spark.operators.sketch import (
        bloom_filter_calibration,
    )
    from gmall_flink_210726_spark.queries.streamq import _stream_events
    from gmall_flink_210726_spark.sinks import append_stats_exactly_once
    from gmall_flink_210726_spark.streaming.pipelines import write_foreach_batch

    m_bits, k_hashes = 8192, 4
    out = tempfile.mkdtemp(prefix="st12_bits_")
    ckpt = tempfile.mkdtemp(prefix="st12_ckpt_")
    ev = _stream_events(spark, sf_dir).select("user_id")

    def _write_bits(batch: DataFrame, epoch: int) -> None:
        ks = F.explode(F.sequence(F.lit(0), F.lit(k_hashes - 1))).alias("j")
        bit = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":", F.col("j"), F.col("user_id").cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % F.lit(m_bits)
        ).alias("bit")
        bits = (
            batch.select("user_id").distinct().select("user_id", ks)
            .select(bit)
            .distinct()
        )
        append_stats_exactly_once(bits, epoch, out)

    try:
        with replay_partitions(spark, f"{sf_dir}/events.parquet"):
            q = write_foreach_batch(ev, _write_bits, checkpoint_dir=ckpt)
            finished = q.awaitTermination(600)
            if not finished:  # pragma: no cover - hung stream
                raise TimeoutError("st12 sketch stream did not finish")
            q.stop()
            merged_bits = spark.read.parquet(out).select("bit").distinct()
            members = (
                load_table(spark, sf_dir, "events")
                .select(F.col("user_id").alias("key"))
                .distinct()
                .localCheckpoint(eager=False)
            )
            probes = members.unionByName(
                members.select((F.col("key") + F.lit(1_000_000_000)).alias("key"))
            )
            # reuse the batch calibration operator's probe/truth logic, but
            # against the STREAM-merged filter: re-derive probe bits and
            # join the durable bit set
            ks = F.explode(F.sequence(F.lit(0), F.lit(k_hashes - 1))).alias("j")
            bit = (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.col("j"), F.col("k").cast("string"))),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.lit(m_bits)
            ).alias("bit")
            pr = probes.select(F.col("key").alias("k")).distinct()
            probe_bits = pr.select("k", ks).select("k", bit)
            hits = (
                probe_bits.join(
                    F.broadcast(merged_bits.select("bit", F.lit(1).alias("_set"))),
                    "bit",
                    "left",
                )
                .groupBy("k")
                .agg((F.count("_set") == F.lit(k_hashes)).alias("bloom_pass"))
            )
            truth = hits.join(
                members.select(F.col("key").alias("k"), F.lit(1).alias("_m")),
                "k",
                "left",
            ).select("k", "bloom_pass", F.col("_m").isNotNull().alias("is_member"))
            result = truth.agg(
                F.count(F.lit(1)).alias("n_probes"),
                F.sum(F.col("is_member").cast("long")).cast("long").alias("n_members"),
                F.sum(F.col("bloom_pass").cast("long")).cast("long").alias("n_pass"),
                F.sum(
                    (F.col("bloom_pass") & ~F.col("is_member")).cast("long")
                ).cast("long").alias("n_false_pos"),
                F.sum(
                    (~F.col("bloom_pass") & F.col("is_member")).cast("long")
                ).cast("long").alias("n_false_neg"),
            ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return result
