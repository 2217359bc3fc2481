r"""Streaming wave 3: epoch-sink serving patterns (st13-st21) and the
stream-ingest twins of the blob decoders (st22-st37).

Every query here, except st17's memory-sink as-of join, runs through
``streamq._run_to_epoch_sink``: each micro-batch reduces to bounded
partials written through the overwrite-idempotent epoch-partition sink,
and the result is served at read time from the merged durable partials.

- st13-st21 pre-aggregate, then serve: top-k per hour (st13), CDC upsert
  materialization (st14), KMV, AMS F2, histogram quantiles and bitmap
  distinct sketches (st15, st18-st20), a salted stream-stream interval
  join (st16) and a stream-static dim enrichment (st21). Per-epoch state
  is bounded by the keys or cells a batch touches, never by its volume,
  and each merge (SUM, argmax, set-min, bit_or) is replay-safe.
- st22-st37 are one ``_replay_ingest`` call each: a blob synthesizer
  lands the documents as 32 parquet files, a file stream replays them 16
  per trigger through the family's decoder on the stream plan, and the
  per-bucket partials (row count, decoded-format count, long sums of the
  decoder's columns) are summed at read.
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from gmall_flink_210726_spark.queries.streamq import (
    _run_to_epoch_sink,
    _run_to_memory,
    _stream_events,
)
from gmall_flink_210726_spark.registry import register
from gmall_flink_210726_spark.sources.batch import load_table


@register(
    "st13_stream_topk_types",
    oracle="""
    WITH b AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H')
                        AS hour,
                      event_type,
                      CAST(COUNT(*) AS BIGINT) AS ct
               FROM events GROUP BY 1, 2),
    r AS (SELECT hour, event_type, ct,
                 CAST(ROW_NUMBER() OVER (PARTITION BY hour
                        ORDER BY ct DESC, event_type) AS BIGINT) AS rk
          FROM b)
    SELECT hour, event_type, ct, rk FROM r WHERE rk <= 3
    """,
    doc="Streaming top-k maintenance (the pre-aggregate-then-serve "
    "pattern): each micro-batch reduces to (hour, event_type, ct) "
    "partials — state bounded by buckets touched, never batch volume "
    "— written through the idempotent epoch-partition sink; the "
    "durable merge is the cross-epoch SUM (additive == replay-safe, "
    "st9's algebra), and top-3 per hour is ranked at read over the "
    "aggregated frame with a deterministic (count DESC, type) "
    "tiebreak. The rank window partitions per hour over <=n_types "
    "rows — the raw stream is never sorted.",
    tags=("streaming", "sink", "topk"),
)
def st13_stream_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts arrives as epoch-nanos bigint (streamq._read_events_stream
    # contract); bucket to the hour STRING inside the batch reduction
    # so the durable partial key is timezone-free
    ev = _stream_events(spark, sf_dir).select(
        F.date_format(
            F.timestamp_micros(F.expr("ts div 1000")), "yyyy-MM-dd HH"
        ).alias("hour"),
        "event_type",
    )

    def _partials(batch: DataFrame) -> DataFrame:
        return batch.groupBy("hour", "event_type").agg(
            F.count(F.lit(1)).cast("long").alias("ct")
        )

    def _top3(partials: DataFrame) -> DataFrame:
        merged = partials.groupBy("hour", "event_type").agg(
            F.sum("ct").cast("long").alias("ct")
        )
        rk = F.row_number().over(
            Window.partitionBy("hour").orderBy(
                F.col("ct").desc(), F.col("event_type")
            )
        )
        return merged.select(
            "hour", "event_type", "ct", rk.cast("long").alias("rk")
        ).filter(F.col("rk") <= 3)

    return _run_to_epoch_sink(ev, _partials, _top3, f"{sf_dir}/events.parquet")


@register(
    "st14_stream_upsert_materialize",
    oracle="""
    WITH r AS (SELECT user_id, event_type,
                      CAST(round(value * 100) AS BIGINT) AS last_cents,
                      CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
                      ROW_NUMBER() OVER (PARTITION BY user_id
                                         ORDER BY ts DESC) AS rk
               FROM events)
    SELECT user_id, event_type AS last_type, last_cents, last_ts_us
    FROM r WHERE rk = 1 AND event_type <> 'error'
    """,
    doc="Streaming CDC UPSERT materialization (Flink's upsert-kafka / "
    "compacted-changelog pattern, the dim-layer sibling of the "
    "reference's Phoenix upsert sink): every event is an upsert of "
    "its user's profile row keyed by user_id, 'error' acts as the "
    "DELETE tombstone, and the materialized table is the per-key "
    "LATEST row. Each micro-batch reduces to per-key batch-latest "
    "partials (max_by over ts — state bounded by keys touched, never "
    "batch volume) written through the idempotent epoch-partition "
    "sink; the durable merge is the cross-epoch argmax(ts), which is "
    "IDEMPOTENT (a replayed epoch re-asserts the same maxima), so "
    "at-least-once replay converges to exactly-once output. "
    "Tombstones filter at serve time — a key whose latest op is a "
    "delete is absent, exactly the compacted-topic contract.",
    tags=("streaming", "sink", "cdc"),
)
def st14_stream_upsert_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _stream_events(spark, sf_dir).select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.round(F.col("value") * 100).cast("long").alias("last_cents"),
        F.expr("ts div 1000").cast("long").alias("last_ts_us"),
    )

    def _partials(batch: DataFrame) -> DataFrame:
        return (
            batch.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("last_type", "last_cents", "last_ts_us"),
                    F.col("last_ts_us"),
                ).alias("s")
            )
            .select("user_id", "s.*")
        )

    return _run_to_epoch_sink(
        ev, _partials, upsert_serve, f"{sf_dir}/events.parquet"
    )


def upsert_serve(partials: DataFrame) -> DataFrame:
    """Serve-time merge of per-epoch upsert partials: global
    argmax(last_ts_us) per key, tombstones ('error') dropped AFTER the
    argmax — a delete only wins if it is the key's latest op. Factored
    out so the replay tests drive it directly against duplicated /
    re-ordered epoch directories."""
    return (
        partials.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("last_type", "last_cents", "last_ts_us"),
                F.col("last_ts_us"),
            ).alias("s")
        )
        .select("user_id", "s.*")
        .filter(F.col("last_type") != "error")
    )


@register(
    "st15_stream_kmv_merge",
    oracle="""
    WITH ded AS (SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h
                 FROM events WHERE user_id IS NOT NULL),
    bk AS (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS r
           FROM ded QUALIFY r <= 64),
    kth AS (SELECT MAX(CASE WHEN r = 64 THEN h END) AS kh,
                   CAST(MAX(r) AS BIGINT) AS k_used
            FROM bk),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_distinct FROM ded)
    SELECT 'all' AS scope, k_used, exact_distinct,
           round(CASE WHEN k_used < 64 THEN CAST(k_used AS DOUBLE)
                 ELSE 63.0 / (CAST(('0x' || substring(kh, 1, 12)) AS BIGINT)
                              / 281474976710656.0) END, 4) AS kmv_estimate
    FROM kth, ex
    """,
    doc="Streaming KMV (bottom-k) distinct-count maintenance — the "
    "MIN-merge sketch algebra completing the st9/st10/st12 family "
    "(SUM-merge CMS, MAX-merge HLL, OR-merge Bloom): each micro-batch "
    "writes its <=64 smallest distinct md5(user_id) hashes through "
    "the idempotent epoch-partition sink; the durable merge is "
    "bottom-k of the union of per-epoch bottom-ks, which equals the "
    "single-pass sketch under epoch retry AND overlapping key slices "
    "(set-min is idempotent and duplicate-insensitive). Estimate is "
    "the classic (k-1)/h_(k); the oracle rebuilds the identical "
    "sketch from the batch table (md5 hex sorts lexicographically == "
    "numerically). operators/sketch.py:kmv_distinct is the batch "
    "sibling.",
    tags=("streaming", "sketch", "sink"),
)
def st15_stream_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _stream_events(spark, sf_dir).select("user_id")
    k = 64

    def _bottomk(batch: DataFrame) -> DataFrame:
        hashed = (
            batch.where(F.col("user_id").isNotNull())
            .select(F.md5(F.col("user_id").cast("string")).alias("h"))
            .distinct()
        )
        # per-batch bottom-k: a TakeOrdered (sort-limit), never a full
        # global sort materialization
        return hashed.orderBy("h").limit(k)

    def _estimate(bottomks: DataFrame) -> DataFrame:
        merged = bottomks.select("h").distinct().orderBy("h").limit(k)
        wr = Window.orderBy("h")
        kth = (
            merged.withColumn("r", F.row_number().over(wr))
            .agg(
                F.max(F.when(F.col("r") == k, F.col("h"))).alias("kh"),
                F.max("r").cast("long").alias("k_used"),
            )
            .withColumn("scope", F.lit("all"))
        )
        frac = F.conv(F.substring("kh", 1, 12), 16, 10).cast("long") / F.lit(
            float(1 << 48)
        )
        est = F.when(
            F.col("k_used") < k, F.col("k_used").cast("double")
        ).otherwise(F.lit(float(k - 1)) / frac)
        exact = (
            load_table(spark, sf_dir, "events")
            .agg(F.count_distinct("user_id").cast("long").alias("exact_distinct"))
            .withColumn("scope", F.lit("all"))
        )
        return kth.join(exact, "scope").select(
            "scope",
            "k_used",
            "exact_distinct",
            F.round(est, 4).alias("kmv_estimate"),
        )

    return _run_to_epoch_sink(ev, _bottomk, _estimate, f"{sf_dir}/events.parquet")


@register(
    "st16_stream_salted_interval_join",
    oracle="""
    SELECT p.event_id AS purchase_id, CAST(COUNT(*) AS BIGINT) AS view_ct
    FROM events p
    JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND epoch_us(v.ts) >= epoch_us(p.ts) - 300000000
     AND epoch_us(v.ts) <= epoch_us(p.ts)
    GROUP BY 1
    """,
    doc="SALTED streaming interval join (VERDICT r7 #7): st3's "
    "watermarked stream-stream join is the one stateful shape AQE "
    "cannot re-plan at runtime — a hot user key pins its entire state "
    "fan-in to one state-store partition for the life of the query. "
    "Remedy = L119's salting applied to streaming state: the views "
    "side replicates each row across 8 salt lanes (explode, no "
    "shuffle), each purchase computes ONE deterministic lane from "
    "xxhash64(purchase_id), and the join key becomes (user, salt) — "
    "every purchase still meets exactly one replica of every "
    "matching view, so the result is bit-identical to the unsalted "
    "join (st3 / j1's oracle) while the hot user's state spreads "
    "over 8 partitions. Cost model: views state x8 vs hot-key "
    "fan-in /8 — the streaming analog of salted_join's dim "
    "replication. Join output flows through the checkpointed "
    "foreachBatch + overwrite-idempotent epoch-partition sink, so "
    "replayed epochs cannot double-count (tests/test_streaming_salted"
    ".py pins bit-identity with st3 and epoch-retry idempotence). "
    "operators/skew.py salted_join, queries/streamq.py st3.",
    tags=("streaming", "join", "skew"),
)
def st16_stream_salted_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    n_salts = 8
    ev = _stream_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        # micro-grain event time (ts is epoch-ns): the oracle compares
        # exact epoch_us bounds, so a ms-grain cast would disagree on a
        # pair straddling the 0s/300s boundary by <1ms (round-9 ADVICE)
        F.timestamp_micros(F.expr("ts div 1000")).alias("event_time"),
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_uid"),
            F.col("event_time").alias("p_time"),
            F.pmod(F.xxhash64("event_id"), F.lit(n_salts))
            .cast("int")
            .alias("p_salt"),
        )
        .withWatermark("p_time", "0 seconds")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_uid"),
            F.col("event_time").alias("v_time"),
            F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias(
                "v_salt"
            ),
        )
        .withWatermark("v_time", "0 seconds")
    )
    joined = purchases.join(
        views,
        F.expr(
            "p_uid = v_uid AND p_salt = v_salt AND "
            "v_time >= p_time - INTERVAL 300 SECOND AND v_time <= p_time"
        ),
    ).select("purchase_id")

    def _partials(batch: DataFrame) -> DataFrame:
        return batch.groupBy("purchase_id").agg(
            F.count(F.lit(1)).cast("long").alias("view_ct")
        )

    def _merge(partials: DataFrame) -> DataFrame:
        return partials.groupBy("purchase_id").agg(
            F.sum("view_ct").cast("long").alias("view_ct")
        )

    return _run_to_epoch_sink(joined, _partials, _merge, f"{sf_dir}/events.parquet")


@register(
    "st17_stream_asof_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           CAST(MAX(epoch_us(v.ts)) AS BIGINT) AS last_view_us
    FROM events p
    JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND epoch_us(v.ts) >= epoch_us(p.ts) - 300000000
     AND epoch_us(v.ts) <= epoch_us(p.ts)
    GROUP BY 1
    """,
    doc="Streaming AS-OF join (w3's batch as-of under the writeStream "
    "gate): for each purchase, the timestamp of the LAST same-user "
    "view within the preceding 5 minutes. Spark has no native "
    "streaming as-of operator; the composition is the watermarked "
    "stream-stream interval join (bounded state, watermark-evicted "
    "both sides) emitting candidate (purchase, view-time) pairs "
    "eagerly, then an argmax reduction per purchase at read — the "
    "candidate set per purchase is bounded by the 5-minute window, "
    "so the post-aggregation frame is small however large the "
    "backlog. The enrichment shape Flink's temporal join serves "
    "(dwm/OrderWideApp's dim-time semantics, generalized to "
    "event-vs-event).",
    tags=("streaming", "join", "asof"),
)
def st17_stream_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # timestamp_micros, not millis: the as-of output IS the matched
    # timestamp, so sub-millisecond precision must survive the round
    # trip (st3 only counts matches and tolerates ms grain)
    ev = _stream_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "event_type",
        F.timestamp_micros(F.expr("ts div 1000")).alias("event_time"),
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
    ).select("purchase_id", "v_time")
    sink = _run_to_memory(
        joined, "st17_asof_join", f"{sf_dir}/events.parquet"
    )
    return (
        spark.table(sink)
        .groupBy("purchase_id")
        .agg(
            F.unix_micros(F.max("v_time")).cast("long").alias("last_view_us")
        )
    )


@register(
    "st18_stream_histogram_quantiles",
    oracle="""
    WITH h AS (SELECT LEAST(CAST(round(value * 100) AS BIGINT) // 200,
                            249) AS bucket,
                      CAST(COUNT(*) AS BIGINT) AS ct
               FROM events GROUP BY 1),
    c AS (SELECT bucket, ct,
                 CAST(SUM(ct) OVER (ORDER BY bucket) AS BIGINT) AS cum
          FROM h),
    n AS (SELECT CAST(SUM(ct) AS BIGINT) AS nn FROM h),
    q AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
                                ('p99', 99, 100)) AS t(p, num, den)),
    r AS (SELECT p, (num * nn + den - 1) // den AS rank_at FROM q, n),
    sel AS (SELECT r.p, MIN(c.bucket) AS bucket
            FROM r JOIN c ON c.cum >= r.rank_at GROUP BY r.p)
    SELECT sel.p, CAST(sel.bucket AS BIGINT) AS bucket,
           CAST(sel.bucket * 200 AS BIGINT) AS bucket_lo_cents,
           c.cum, n.nn AS n_rows
    FROM sel JOIN c ON c.bucket = sel.bucket, n
    """,
    doc="Streaming quantile maintenance via a FIXED-GRID additive "
    "histogram (the mergeable-summary pattern: like st9's CMS and "
    "st10's HLL, the partial is a bounded vector whose merge is SUM, "
    "so replayed epochs stay idempotent through the epoch-partition "
    "sink and no raw value is ever re-scanned). Each micro-batch "
    "reduces to <=250 (bucket, count) rows — cents//200 integer "
    "bucketing, exact — and read-time serving takes the merged "
    "histogram, one cumulative window over <=250 rows, and exact "
    "ceil-rank quantile selection in pure integer arithmetic "
    "(num*N + den - 1) // den. The streaming complement of "
    "sketch_histogram_quantiles' batch min/max grid (which a stream "
    "cannot know in advance - the grid must be declared up front).",
    tags=("streaming", "sketch", "agg"),
)
def st18_stream_histogram_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _stream_events(spark, sf_dir).select(
        F.least(
            F.expr("CAST(round(value * 100) AS BIGINT) div 200"), F.lit(249)
        ).alias("bucket")
    )

    def _partials(batch: DataFrame) -> DataFrame:
        return batch.groupBy("bucket").agg(
            F.count(F.lit(1)).cast("long").alias("ct")
        )

    def _quantiles(partials: DataFrame) -> DataFrame:
        h = partials.groupBy("bucket").agg(F.sum("ct").cast("long").alias("ct"))
        c = h.withColumn(
            "cum",
            F.sum("ct").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ).cast("long"),
        )
        n = h.agg(F.sum("ct").cast("long").alias("nn"))
        qf = spark.createDataFrame(
            [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)],
            "p string, num long, den long",
        )
        r = qf.crossJoin(F.broadcast(n)).select(
            "p",
            F.expr("(num * nn + den - 1) div den").alias("rank_at"),
            "nn",
        )
        sel = (
            r.join(c, c["cum"] >= r["rank_at"])
            .groupBy("p", "nn")
            .agg(F.min("bucket").alias("bucket"))
        )
        return sel.join(c, "bucket").select(
            "p",
            F.col("bucket").cast("long").alias("bucket"),
            (F.col("bucket") * 200).cast("long").alias("bucket_lo_cents"),
            "cum",
            F.col("nn").alias("n_rows"),
        )

    return _run_to_epoch_sink(ev, _partials, _quantiles, f"{sf_dir}/events.parquet")


@register(
    "st19_stream_ams_f2",
    oracle="""
    WITH f AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS ct
               FROM events GROUP BY user_id),
    est AS (SELECT j,
                   CAST(SUM(CASE WHEN ascii(substr(md5(
                          CAST(user_id AS VARCHAR) || '|'
                          || CAST(j AS VARCHAR)), 1, 1)) % 2 = 0
                        THEN ct ELSE -ct END) AS BIGINT) AS s
            FROM f, (SELECT unnest(range(0, 16)) AS j) GROUP BY j),
    agg AS (SELECT CAST(SUM(s * s) AS BIGINT) AS sum_sq FROM est)
    SELECT CAST(16 AS BIGINT) AS n_estimators,
           CAST(agg.sum_sq AS DOUBLE) / 16.0 AS f2_estimate
    FROM agg
    """,
    doc="Streaming AMS F2 maintenance: each micro-batch reduces to 16 "
    "signed integer partial sums (md5-parity +/-1 signs, identical to "
    "sketch_ams_f2's batch signs) written through the idempotent "
    "epoch-partition sink; the durable merge is the cross-epoch SUM — "
    "the estimator is LINEAR in the data, so additive merge is exact "
    "and replay-safe (st9's CMS algebra, applied to a moment sketch). "
    "16 longs of state per epoch regardless of batch volume; F2 is "
    "served at read by squaring and averaging the merged sums. "
    "Batch twin: sketch_ams_f2 (exact-oracle calibrated).",
    tags=("streaming", "sketch", "sink"),
)
def st19_stream_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _stream_events(spark, sf_dir).select("user_id")

    def _partials(batch: DataFrame) -> DataFrame:
        js = batch.sparkSession.range(16).select(
            F.col("id").cast("int").alias("j")
        )
        signed = batch.crossJoin(F.broadcast(js)).select(
            "j",
            F.when(
                F.ascii(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "|",
                                F.col("user_id").cast("string"),
                                F.col("j").cast("string"),
                            )
                        ),
                        1,
                        1,
                    )
                )
                % 2
                == 0,
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .alias("sign"),
        )
        return signed.groupBy("j").agg(F.sum("sign").cast("long").alias("s"))

    def _f2(partials: DataFrame) -> DataFrame:
        merged = partials.groupBy("j").agg(F.sum("s").cast("long").alias("s"))
        return merged.agg(
            F.sum(F.col("s") * F.col("s")).cast("long").alias("sum_sq")
        ).select(
            F.lit(16).cast("long").alias("n_estimators"),
            (F.col("sum_sq").cast("double") / F.lit(16.0)).alias("f2_estimate"),
        )

    return _run_to_epoch_sink(ev, _partials, _f2, f"{sf_dir}/events.parquet")


@register(
    "st20_stream_bitmap_distinct",
    oracle="""
    SELECT CAST(strftime(ts, '%Y-%m-%d') AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_uv
    FROM events GROUP BY 1
    """,
    doc="Streaming EXACT distinct via bitmap OR-merge — the dense-"
    "domain answer to st10's approximate HLL: each micro-batch "
    "reduces to (day, user_id div 64, bit_or(shifted bit)) words — "
    "state bounded by |users|/64 longs per day regardless of batch "
    "volume — written through the idempotent epoch-partition sink; "
    "the durable merge is cross-epoch bit_or (idempotent AND "
    "commutative: replays and reorders both converge, the strongest "
    "of the sketch-merge algebras, same trick as x32/x48), and the "
    "exact per-day UV is served at read as sum(bit_count(word)). "
    "Dense user domains make this EXACT at HLL-like state cost; "
    "sparse/unbounded domains fall back to st10. Completes the "
    "streaming distinct trio: exact-keyed state (st1), approximate "
    "HLL (st10), exact bitmap (st20).",
    tags=("streaming", "sketch", "agg"),
)
def st20_stream_bitmap_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _stream_events(spark, sf_dir).select(
        F.date_format(
            F.timestamp_micros(F.expr("ts div 1000")), "yyyy-MM-dd"
        ).alias("day"),
        "user_id",
    )

    def _words(batch: DataFrame) -> DataFrame:
        return batch.groupBy(
            "day", F.expr("user_id div 64").alias("w")
        ).agg(
            F.bit_or(
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT),"
                    " CAST(user_id % 64 AS INT))"
                )
            ).alias("bits")
        )

    def _uv(words: DataFrame) -> DataFrame:
        return (
            words.groupBy("day", "w")
            .agg(F.bit_or("bits").alias("bits"))
            .groupBy("day")
            .agg(F.sum(F.bit_count("bits")).cast("long").alias("exact_uv"))
        )

    return _run_to_epoch_sink(ev, _words, _uv, f"{sf_dir}/events.parquet")


@register(
    "st21_stream_static_enrich",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id + 1
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1
    """,
    doc="STREAM-STATIC dim enrichment — the single most common "
    "streaming pattern in the reference (dwm/OrderWideApp joins the "
    "order stream to six dim tables; J2 is its batch twin): the "
    "events file-stream inner-joins the STATIC customer->nation dim "
    "chain ON THE STREAM PLAN (Structured Streaming's stream-static "
    "join: the static side broadcasts per micro-batch, no state "
    "store, no watermark needed for inner joins), then per-epoch "
    "(nation, count, cents) partials flow through the checkpointed "
    "foreachBatch + overwrite-idempotent epoch sink and merge at "
    "read. Values sum as exact per-row cents (the repo decimal "
    "rule). Dim size is bounded, so the broadcast is the same plan "
    "a 1000-executor cluster wants. queries/streamq.py st3, "
    "operators/joins.py J2.",
    tags=("streaming", "join", "enrich"),
)
def st21_stream_static_enrich(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    ev = _stream_events(spark, sf_dir).select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    enriched = ev.join(
        F.broadcast(cust),
        F.col("c_custkey") == F.col("user_id") + 1,
    ).join(
        F.broadcast(nation),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )

    def _partials(batch: DataFrame) -> DataFrame:
        return batch.groupBy("nation").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )

    def _merge(partials: DataFrame) -> DataFrame:
        return partials.groupBy("nation").agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.sum("revenue_cents").cast("long").alias("revenue_cents"),
        )

    return _run_to_epoch_sink(enriched, _partials, _merge, f"{sf_dir}/events.parquet")


def _replay_ingest(
    spark: SparkSession,
    sf_dir: str,
    synth: Callable[..., DataFrame],
    decode: Callable[[DataFrame], DataFrame],
    fmt: str,
    count: str,
    *sums: str,
    ok: str = "n_ok",
) -> DataFrame:
    """The landing-and-replay shape of the stream-ingest twins
    (st22-st37). ``synth`` lands the documents as 32 parquet files of
    blobs, a file stream replays them 16 per trigger (two micro-batches
    whose file splits land on every core, so blob bodies never shuffle),
    ``decode`` runs on the stream plan, and each epoch writes per-bucket
    (``media_id % 10``) partials through :func:`_run_to_epoch_sink`: the
    row count ``count``, the ``format == fmt`` count ``ok`` and long sums
    of the decoder columns ``sums``. Serving sums every partial column."""
    cols = (count, ok, *sums)

    def _partials(batch: DataFrame) -> DataFrame:
        return batch.groupBy((F.col("media_id") % 10).alias("bucket")).agg(
            F.count(F.lit(1)).cast("long").alias(count),
            F.sum((F.col("format") == fmt).cast("long")).cast("long").alias(ok),
            *(F.sum(c).cast("long").alias(c) for c in sums),
        )

    def _merge(partials: DataFrame) -> DataFrame:
        return partials.groupBy("bucket").agg(
            *(F.sum(c).cast("long").alias(c) for c in cols)
        )

    src = tempfile.mkdtemp(prefix="ingest_src_")
    try:
        landed = synth(load_table(spark, sf_dir, "documents"), partitions=32)
        landed.write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(landed.schema)
            .option("maxFilesPerTrigger", 16)
            .parquet(src)
        )
        return _run_to_epoch_sink(decode(stream), _partials, _merge, src)
    finally:
        shutil.rmtree(src, ignore_errors=True)


@register(
    "st22_stream_warc_ingest",
    oracle="""
    WITH s AS (SELECT doc_id AS i, doc_id % 3 AS v,
                      doc_id % 13 = 0 OR
                      (doc_id % 11 = 0 AND doc_id % 3 <> 1) AS bad,
                      len(string_split(text, ' ')) AS nw,
                      1 + doc_id % 3 AS nli
               FROM documents)
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_streams,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 WHEN v = 2 THEN 3
                    ELSE 2 END) AS BIGINT) AS n_records,
           CAST(SUM(CASE WHEN bad OR v = 1 THEN 0 ELSE 1 END)
                AS BIGINT) AS n_responses,
           CAST(SUM(CASE WHEN bad OR v = 0 THEN 0 ELSE 1 END)
                AS BIGINT) AS n_conversions,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE
                  (CASE WHEN v <> 1 THEN 4 + nli ELSE 0 END)
                + (CASE WHEN v <> 0 THEN 2 ELSE 0 END)
                END) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE
                  (CASE WHEN v <> 1 THEN 2 + nw + 3 * nli + 15
                        ELSE 0 END)
                + (CASE WHEN v <> 0 THEN nw ELSE 0 END)
                END) AS BIGINT) AS n_words
    FROM s GROUP BY 1
    """,
    doc="STREAMING CommonCrawl ingest — the WARC/WET decode running "
    "as a STRUCTURED STREAMING operator, not a batch afterthought: "
    "mixed WARC/WET .gz streams arrive as a parquet file stream "
    "(maxFilesPerTrigger paces multiple micro-batches), the full "
    "hand-decode chain (gzip CRC walk -> WARC framing -> HTML "
    "extraction / WET passthrough) runs via Arrow-batched "
    "mapInPandas ON THE STREAM PLAN, and per-epoch per-bucket "
    "partials flow through the checkpointed foreachBatch + "
    "overwrite-idempotent epoch sink. Decode state is per-blob, so "
    "the operator needs no state store and scales exactly like its "
    "batch twin (multimodal_wet_text, whose per-layer corruption "
    "stripes carry over). The oracle recomputes per-bucket record/ "
    "block/word totals blind from the parquet text column. Bench "
    "note: roughly half this query's wall time is the deliberate "
    "in-query INGEST (synthesizing and landing ~5k gzip blobs as "
    "the stream's source files) and the rest is two decode micro-"
    "batches plus stream start/stop — the steady-state per-batch "
    "decode is ~2 s of the total. operators/warc.py "
    "warc_text_extract",
    tags=("streaming", "llm", "multimodal"),
)
def st22_stream_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.warc import (
        synthesize_wet_media,
        warc_text_extract,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_wet_media, warc_text_extract, "warc",
        "n_streams", "n_records", "n_responses", "n_conversions", "n_blocks",
        "n_words",
    )


@register(
    "st23_stream_webdataset",
    oracle="""
    WITH m AS (SELECT doc_id AS i, doc_id % 17 = 0 AS shard_bad,
                      2 + doc_id % 3 AS ns
               FROM documents),
    s AS (SELECT i, shard_bad, ns, 4 * i + s AS sid
          FROM (SELECT i, shard_bad, ns, unnest(range(0, ns)) AS s
                FROM m)),
    d AS (SELECT i, shard_bad, ns, sid, sid % 13 = 0 AS sbad,
                 1 + sid % 4 AS bw, 1 + sid % 3 AS bh,
                 sid % 5 AS wp, sid % 3 AS hp
          FROM s),
    p AS (SELECT i, shard_bad, ns, sbad,
                 (8 * bw - wp) * (8 * bh - hp) AS npx,
                 list_sum([((sid * 37 + 11 * b) % 256)
                           * (CASE WHEN b % bw = bw - 1
                                   THEN 8 - wp ELSE 8 END)
                           * (CASE WHEN b // bw = bh - 1
                                   THEN 8 - hp ELSE 8 END)
                           for b in range(0, bw * bh)]) AS psum
          FROM d),
    agg AS (SELECT i, shard_bad, ns,
                   SUM(CASE WHEN sbad THEN 1 ELSE 0 END) AS n_bad,
                   SUM(CASE WHEN sbad THEN 0 ELSE npx END) AS n_pixels,
                   SUM(CASE WHEN sbad THEN 0 ELSE psum END) AS pixel_sum
            FROM p GROUP BY 1, 2, 3)
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_shards,
           CAST(SUM(CASE WHEN shard_bad THEN 0 ELSE 1 END) AS BIGINT)
             AS n_loaded,
           CAST(SUM(CASE WHEN shard_bad THEN 0 ELSE ns - n_bad END)
                AS BIGINT) AS n_ok,
           CAST(SUM(CASE WHEN shard_bad THEN 0 ELSE n_bad END)
                AS BIGINT) AS n_bad,
           CAST(SUM(CASE WHEN shard_bad THEN 0 ELSE n_pixels END)
                AS BIGINT) AS n_pixels,
           CAST(SUM(CASE WHEN shard_bad THEN 0 ELSE pixel_sum END)
                AS BIGINT) AS pixel_sum
    FROM agg GROUP BY 1
    """,
    doc="STREAMING WebDataset ingest — the tar-shard + JPEG-decode "
    "loader pass (multimodal_webdataset) running as a STRUCTURED "
    "STREAMING operator: shards arrive as a parquet file stream "
    "(32 source files, 16 per trigger: two micro-batches whose "
    "splits land on every core), the full member-walk -> sample "
    "grouping -> from-scratch JPEG decode chain runs via Arrow-"
    "batched mapInPandas ON THE STREAM PLAN, and per-epoch "
    "per-bucket partials flow through the checkpointed foreachBatch "
    "+ overwrite-idempotent epoch sink. Decode state is per-shard, "
    "so no state store is needed and the operator scales exactly "
    "like its batch twin (whose two-layer shard/sample degrade "
    "stripes carry over). The oracle recomputes per-bucket shard/"
    "sample/pixel totals blind from the write formulas. "
    "operators/wds.py wds_sample_stats",
    tags=("streaming", "llm", "multimodal"),
)
def st23_stream_webdataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.wds import (
        synthesize_wds_media,
        wds_sample_stats,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_wds_media, wds_sample_stats, "webdataset",
        "n_shards", "n_ok", "n_bad", "n_pixels", "pixel_sum", ok="n_loaded",
    )


@register(
    "st24_stream_avro_ingest",
    oracle="""
    WITH m AS (SELECT doc_id AS i, doc_id % 9 = 0 AS bad,
                      8 + doc_id % 40 AS n, 1 + doc_id % 3 AS g
               FROM documents),
    r AS (SELECT i, unnest(range(0, n)) AS rr FROM m),
    base AS (SELECT i, SUM((5 * i + 3 * rr) % 1000) AS id_sum,
                    SUM(rr % 4) AS vals_count
             FROM r GROUP BY i),
    v AS (SELECT i, COALESCE(SUM((i + 7 * rr + k) % 100), 0) AS vals_sum
          FROM (SELECT i, rr, unnest(range(0, rr % 4)) AS k FROM r)
          GROUP BY i)
    SELECT CAST(m.i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT) AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE n END) AS BIGINT)
             AS n_records,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE g END) AS BIGINT)
             AS n_blocks,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE base.id_sum END) AS BIGINT)
             AS id_sum,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE COALESCE(v.vals_sum, 0)
                    END) AS BIGINT) AS vals_sum
    FROM m JOIN base ON base.i = m.i LEFT JOIN v ON v.i = m.i
    GROUP BY 1
    """,
    doc="STREAMING Avro ingest — the object-container walk "
    "(multimodal_avro_container: schema-driven decode, ALL SIX "
    "spec codecs incl. the hand zstd/bzip2/xz decoders, sync/CRC "
    "cross-checks) running as a STRUCTURED "
    "STREAMING operator: containers arrive as a parquet file stream "
    "(32 source files, 16 per trigger: two micro-batches whose "
    "splits land on every core), the decode runs via Arrow-batched "
    "mapInPandas ON THE STREAM PLAN, and per-epoch per-bucket "
    "partials flow through the checkpointed foreachBatch + "
    "overwrite-idempotent epoch sink — the exact landing pass a "
    "Kafka->Avro->lakehouse pipeline runs per micro-batch. Decode "
    "state is per-blob: no state store, scales like the batch twin "
    "(whose every-9th-id flipped-sync degrade stripe carries over). "
    "The oracle recomputes per-bucket record/block/value totals "
    "blind from the write formulas. operators/avro.py "
    "avro_container_stats",
    tags=("streaming", "llm", "multimodal"),
)
def st24_stream_avro_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.avro import (
        avro_container_stats,
        synthesize_avro_media,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_avro_media, avro_container_stats, "avro",
        "n_files", "n_records", "n_blocks", "id_sum", "vals_sum",
    )


@register(
    "st25_stream_orc_ingest",
    oracle="""
    WITH m AS (SELECT doc_id AS i, doc_id % 17 = 0 AS bad,
                      2000 + (doc_id % 5) * 500 AS n, doc_id % 4 AS mode
               FROM documents),
    v AS (SELECT i,
                 CASE mode
                      WHEN 0 THEN (i + rr // 7) % 50
                      WHEN 1 THEN 3 * rr + i
                      WHEN 2 THEN (7 * i + 3 * rr) % 1000 - 500
                      ELSE ((i + rr) % 64)
                           + CASE WHEN rr % 50 = 0
                                  THEN 1099511627776 ELSE 0 END
                 END AS val
          FROM (SELECT i, mode, n, unnest(range(0, n)) AS rr FROM m)),
    ag AS (SELECT i, CAST(SUM(val) AS BIGINT) AS k_sum FROM v GROUP BY i)
    SELECT CAST(m.i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT) AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE n END) AS BIGINT)
             AS n_rows,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE ag.k_sum END) AS BIGINT)
             AS k_sum
    FROM m JOIN ag ON ag.i = m.i GROUP BY 1
    """,
    doc="STREAMING ORC ingest — the from-scratch ORC read "
    "(multimodal_orc_column: protobuf walk, compressed-stream "
    "framing, RLEv2 all four sub-encodings, stats-vs-decode books) "
    "running as a STRUCTURED STREAMING operator: files arrive as a "
    "parquet file stream (32 source files, 16 per trigger), the "
    "decode runs via Arrow-batched mapInPandas ON THE STREAM PLAN, "
    "per-epoch per-bucket partials flow through the checkpointed "
    "foreachBatch + overwrite-idempotent epoch sink — the landing "
    "pass of an ORC-lake backfill. Per-blob decode state: no state "
    "store, scales like the batch twin (whose every-17th-id flipped "
    "data byte carries over). The oracle recomputes per-bucket "
    "row/sum totals blind from the mode formulas. operators/orc.py "
    "orc_column_stats",
    tags=("streaming", "llm", "multimodal", "lakehouse"),
)
def st25_stream_orc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.orc import (
        orc_column_stats,
        synthesize_orc_media,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_orc_media, orc_column_stats, "orc",
        "n_files", "n_rows", "k_sum",
    )


@register(
    "st26_stream_kafka_ingest",
    oracle="""
    WITH m AS (SELECT doc_id AS i, doc_id % 11 = 0 AS bad,
                      1 + doc_id % 3 AS nb
               FROM documents),
    b AS (SELECT i, bb, 2 + (i + bb) % 4 AS rc
          FROM (SELECT i, nb, unnest(range(0, nb)) AS bb FROM m)),
    r AS (SELECT i, bb, rr, (7 * i + 5 * bb + rr) % 100 AS pay
          FROM (SELECT i, bb, rc, unnest(range(0, rc)) AS rr FROM b)),
    ag AS (SELECT i, COUNT(*) AS n_records, SUM(pay) AS payload_sum
           FROM r GROUP BY i)
    SELECT CAST(m.i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT) AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE nb END) AS BIGINT)
             AS n_batches,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE ag.n_records END)
                AS BIGINT) AS n_records,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE ag.payload_sum END)
                AS BIGINT) AS payload_sum
    FROM m JOIN ag ON ag.i = m.i GROUP BY 1
    """,
    doc="STREAMING Kafka-segment ingest — the reference's entire "
    "premise (Kafka topics feeding a realtime warehouse) run over "
    "the actual STORED BYTES: RecordBatch v2 segments arrive as a "
    "parquet file stream (32 files, 16 per trigger), the CRC32C + "
    "zigzag-varint + codec decode chain (multimodal_kafka_segment) "
    "runs via Arrow-batched mapInPandas ON THE STREAM PLAN, and "
    "per-epoch per-bucket partials flow through the checkpointed "
    "foreachBatch + overwrite-idempotent epoch sink — exactly the "
    "tiered-storage landing pass a Kafka->lakehouse offload runs "
    "per micro-batch. Per-segment decode state: no state store; "
    "the batch twin's every-11th-id CRC stripe carries over. The "
    "oracle recomputes per-bucket record/payload totals blind. "
    "operators/kafkalog.py kafka_segment_stats",
    tags=("streaming", "llm", "multimodal", "kafka"),
)
def st26_stream_kafka_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.kafkalog import (
        kafka_segment_stats,
        synthesize_kafka_media,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_kafka_media, kafka_segment_stats, "kafka",
        "n_segments", "n_batches", "n_records", "payload_sum",
    )


@register(
    "st27_stream_wiki_ingest",
    oracle="""
    WITH m AS (SELECT doc_id AS i,
                      doc_id % 13 = 0 OR doc_id % 9 = 0 AS bad,
                      1 + doc_id % 4 AS np
               FROM documents),
    pg AS (SELECT i, p, 10 * i + p AS pid, 1 + (i + p) % 3 AS r
           FROM (SELECT i, np, unnest(range(0, np)) AS p FROM m)),
    agg AS (SELECT i, SUM(pid) AS ids, SUM(11 * r + 16) AS pls
            FROM pg GROUP BY i)
    SELECT CAST(m.i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_dumps,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE m.np END) AS BIGINT)
             AS n_pages,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE agg.ids END) AS BIGINT)
             AS id_sum,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE agg.pls END) AS BIGINT)
             AS plain_len_sum,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 2 * m.np END)
                AS BIGINT) AS link_count
    FROM m JOIN agg ON agg.i = m.i GROUP BY 1
    """,
    doc="STREAMING Wikipedia-dump ingest — the bzip2 multistream -> "
    "MediaWiki XML -> wikitext-strip chain (text_wikipedia_dump's "
    "batch twin) running as a Structured Streaming operator: dump "
    "blobs arrive as a parquet file stream (maxFilesPerTrigger "
    "paces two micro-batches across all cores), the full hand "
    "decode runs via Arrow-batched mapInPandas ON THE STREAM PLAN, "
    "and per-epoch per-bucket partials flow through the "
    "checkpointed foreachBatch + overwrite-idempotent epoch sink. "
    "Decode state is per-blob, so no state store; the corruption "
    "stripes (mid-blob flip, stored-CRC flip) carry over from the "
    "batch twin and land in n_ok. The oracle recomputes per-bucket "
    "page/id/plain-length totals blind from the write formulas. "
    "operators/wikidump.py wiki_dump_stats",
    tags=("streaming", "llm", "text"),
)
def st27_stream_wiki_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.wikidump import (
        synthesize_wiki_dump_media,
        wiki_dump_stats,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_wiki_dump_media, wiki_dump_stats, "wikidump",
        "n_dumps", "n_pages", "id_sum", "plain_len_sum", "link_count",
    )


@register(
    "st28_stream_delta_dv_scan",
    oracle="""
    WITH m AS (SELECT doc_id AS i,
                      doc_id % 13 = 0 OR doc_id % 9 = 0 AS bad,
                      2 + doc_id % 3 AS nf
               FROM documents),
    rj AS (SELECT i, nf, f, j,
                  (13 * i + 29 * f + 11 * j) % 3000 AS k,
                  NOT (f = nf - 1 AND i % 2 = 0)
                    AND ((j >= 5 AND j < 7 + (i + f) % 6)
                         OR j % 7 = (i + f) % 7) AS del
           FROM (SELECT i, nf, f, R, unnest(range(0, R)) AS j
                 FROM (SELECT i, nf, f, 40 + ((i + f) % 3) * 20 AS R
                       FROM (SELECT i, nf, unnest(range(0, nf)) AS f
                             FROM m)))),
    agg AS (SELECT i,
                   SUM(CASE WHEN del THEN 1 ELSE 0 END) AS deleted,
                   SUM(CASE WHEN del THEN 0 ELSE 1 END) AS live,
                   SUM(CASE WHEN del THEN 0 ELSE k END) AS ks
            FROM rj GROUP BY i)
    SELECT CAST(m.i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tables,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE agg.deleted END)
                AS BIGINT) AS deleted_rows,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE agg.live END)
                AS BIGINT) AS live_rows,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE agg.ks END)
                AS BIGINT) AS k_sum
    FROM m JOIN agg ON agg.i = m.i GROUP BY 1
    """,
    doc="STREAMING Delta merge-on-read scan — whole lakehouse tables "
    "(tar blobs of log + deletion vectors + parquet parts) arriving "
    "as a file stream, each micro-batch running the full composed "
    "decode (log replay with last-wins DVs, roaring bitmap decode, "
    "hand parquet column reads, deleted-position subtraction) via "
    "Arrow-batched mapInPandas ON THE STREAM PLAN, per-epoch "
    "per-bucket partials through the checkpointed foreachBatch + "
    "overwrite-idempotent epoch sink. This is the CDC-compaction "
    "consumer a lakehouse feeds: tables land, the stream keeps "
    "running totals of live rows after deletes. Stateless per blob; "
    "the batch twin's CRC-flip and cardinality-lie stripes land in "
    "n_ok. operators/deltadv.py scan_delta_table_mor",
    tags=("streaming", "llm", "lakehouse"),
)
def st28_stream_delta_dv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.deltadv import (
        delta_dv_scan_stats,
        synthesize_delta_dv_media,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_delta_dv_media, delta_dv_scan_stats, "delta",
        "n_tables", "deleted_rows", "live_rows", "k_sum",
    )


@register(
    "st29_stream_warc_http_ingest",
    oracle="""
    WITH s AS (SELECT doc_id AS i, doc_id % 5 AS v,
                      doc_id % 11 = 0 OR doc_id % 13 = 0
                        OR doc_id % 17 = 0 AS bad,
                      len(string_split(text, ' ')) AS nw,
                      1 + doc_id % 3 AS nli
               FROM documents)
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_streams,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT)
             AS n_http,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 200 END) AS BIGINT)
             AS status_sum,
           CAST(SUM(CASE WHEN bad OR v NOT IN (1, 3) THEN 0 ELSE 1
                END) AS BIGINT) AS n_chunked,
           CAST(SUM(CASE WHEN bad OR v NOT IN (2, 3) THEN 0 ELSE 1
                END) AS BIGINT) AS n_gzip,
           CAST(SUM(CASE WHEN bad OR v != 4 THEN 0 ELSE 1
                END) AS BIGINT) AS n_deflate,
           CAST(SUM(CASE WHEN bad THEN 0
                ELSE 2 + nw + 3 * nli + 20 END) AS BIGINT) AS n_words
    FROM s GROUP BY 1
    """,
    doc="STREAMING real-CommonCrawl ingest — the round-12 HTTP/1.1 "
    "message layer (L236) running as a Structured Streaming "
    "operator: HTTP-bearing .warc.gz streams arrive as a parquet "
    "file stream (32 files, 16 per trigger), the full chain — gzip "
    "CRC walk -> WARC framing -> Content-Type dispatch -> RFC 9112 "
    "status line / chunked de-framing / gzip+deflate content "
    "codings -> HTML extraction — runs Arrow-batched ON THE STREAM "
    "PLAN, and per-epoch per-bucket partials flow through the "
    "checkpointed foreachBatch + overwrite-idempotent epoch sink. "
    "Per-blob stateless; the batch twin's three lie stripes (HTML "
    "swallow / chunk-size lie / Content-Length lie) carry into "
    "n_ok. The oracle recomputes per-bucket framing-variant counts "
    "and word totals blind. operators/warc.py warc_http_text",
    tags=("streaming", "llm", "multimodal", "text"),
)
def st29_stream_warc_http_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.warc import (
        synthesize_warc_http_media,
        warc_http_text,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_warc_http_media, warc_http_text, "warc",
        "n_streams", "n_http", "status_sum", "n_chunked", "n_gzip",
        "n_deflate", "n_words",
    )


@register(
    "st30_stream_orc_decimal_ingest",
    oracle="""
    WITH m AS (SELECT doc_id AS i, 1500 + (doc_id % 4) * 400 AS n,
                      doc_id % 23 = 0 AS bad
               FROM documents),
    r AS (SELECT i, n, bad, unnest(range(0, n)) AS r FROM m),
    v AS (SELECT i, n, bad,
                 (i * 37 + r * 131) % 100000 - 50000 AS mant,
                 CASE r % 5 WHEN 0 THEN 0 WHEN 1 THEN 500000000
                            WHEN 2 THEN 123456789 WHEN 3 THEN 1000
                            ELSE 250000000 END AS ns
          FROM r),
    a AS (SELECT i, n, bad, SUM(mant) AS dsum, SUM(ns) AS nsum
          FROM v GROUP BY i, n, bad)
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE n END) AS BIGINT)
             AS n_rows,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE dsum END) AS BIGINT)
             AS dec_sum_mant,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE nsum END) AS BIGINT)
             AS ns_sum
    FROM a GROUP BY 1
    """,
    doc="STREAMING warehouse-ORC ingest — the round-12 DECIMAL + "
    "TIMESTAMP read path (L238) as a Structured Streaming operator: "
    "real pyarrow ORC files (decimal mantissa varints + RLEv2 "
    "scales, epoch-2015 seconds + trailing-zero nanos, all five "
    "codecs, DecimalStatistics/TimestampStatistics books checked) "
    "arrive as a parquet file stream (32 files, 16 per trigger), "
    "decoded Arrow-batched ON THE STREAM PLAN, per-epoch per-bucket "
    "partials through the checkpointed foreachBatch + overwrite-"
    "idempotent epoch sink. Per-blob stateless; the batch twin's "
    "every-23rd-id byte-flip stripe carries into n_ok. "
    "operators/orc2.py orc_dec_stats",
    tags=("streaming", "llm", "multimodal", "lakehouse"),
)
def st30_stream_orc_decimal_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.orc2 import (
        orc_dec_stats,
        synthesize_orc_dec_media,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_orc_dec_media, orc_dec_stats, "orc",
        "n_files", "n_rows", "dec_sum_mant", "ns_sum",
    )


@register(
    "st31_stream_kafka_txn_ingest",
    oracle="""
    WITH m AS (SELECT doc_id AS i, 1 + doc_id % 2 AS n_pids
               FROM documents),
    pb AS (SELECT i, n_pids, unnest(range(0, n_pids)) AS p FROM m),
    tb AS (SELECT i, n_pids, p,
                  unnest(range(0, 1 + (i + p) % 2)) AS b
           FROM pb),
    txn AS (SELECT i, n_pids, p, b,
                   2 + (i + p + b) % 3 AS nrec,
                   COALESCE(list_sum(
                     [(7 * i + 5 * (10 * (p + 1) + b) + r) % 100
                      for r in range(0, 2 + (i + p + b) % 3)]), 0)
                     AS psum
            FROM tb),
    per_p AS (SELECT i, p, (i + p) % 3 = 0 AS aborted,
                     CAST(SUM(nrec) AS BIGINT) AS trec,
                     CAST(SUM(psum) AS BIGINT) AS tsum
              FROM txn GROUP BY i, p),
    agg AS (SELECT i,
                   CAST(SUM(CASE WHEN aborted THEN 0 ELSE trec END)
                        AS BIGINT) AS com_rec,
                   CAST(SUM(CASE WHEN aborted THEN 0 ELSE tsum END)
                        AS BIGINT) AS com_sum,
                   CAST(SUM(CASE WHEN aborted THEN trec ELSE 0 END)
                        AS BIGINT) AS ab_rec
            FROM per_p GROUP BY i),
    plains AS (SELECT doc_id AS i, 2 + doc_id % 3 AS nr1,
                      COALESCE(list_sum(
                        [(7 * doc_id + r) % 100
                         for r in range(0, 2 + doc_id % 3)]), 0) AS s1,
                      COALESCE(list_sum(
                        [(7 * doc_id + 5 + r) % 100
                         for r in range(0, 2)]), 0) AS s2
               FROM documents),
    f AS (SELECT a.i,
                 a.com_rec + pl.nr1 + 2 AS committed_records,
                 CAST(a.com_sum + pl.s1 + pl.s2 AS BIGINT)
                   AS committed_sum,
                 a.ab_rec AS aborted_records,
                 a.i % 11 = 0 OR a.i % 17 = 0 OR a.i % 19 = 0 AS bad
          FROM agg a JOIN plains pl ON a.i = pl.i)
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE committed_records END)
                AS BIGINT) AS committed_records,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE committed_sum END)
                AS BIGINT) AS committed_sum,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE aborted_records END)
                AS BIGINT) AS aborted_records
    FROM f GROUP BY 1
    """,
    doc="STREAMING exactly-once Kafka segment ingest — the round-13 "
    "KIP-98 read_committed walk (L252) as a Structured Streaming "
    "operator: transactional segments (interleaved producers, "
    "commit/abort control markers, five rotating codecs) arrive as "
    "a parquet file stream (32 files, 16 per trigger), decoded "
    "Arrow-batched ON THE STREAM PLAN — aborted records excluded "
    "per producer exactly as in the batch twin — and per-epoch "
    "per-bucket partials flow through the checkpointed foreachBatch "
    "+ overwrite-idempotent epoch sink (exactly-once composed with "
    "exactly-once). Per-blob stateless; the batch twin's dangling-"
    "txn/orphan-marker/CRC stripes carry into n_ok. "
    "operators/kafkalog.py read_kafka_segment_committed",
    tags=("streaming", "llm", "multimodal"),
)
def st31_stream_kafka_txn_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.kafkalog import (
        kafka_committed_stats,
        synthesize_kafka_txn_media,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_kafka_txn_media, kafka_committed_stats,
        "kafka", "n_segments", "committed_records", "committed_sum",
        "aborted_records",
    )


@register(
    "st32_stream_warc_zstd_ingest",
    oracle="""
    WITH s AS (SELECT doc_id AS i, doc_id % 3 AS v,
                      doc_id % 13 = 0 OR
                      (doc_id % 11 = 0 AND doc_id % 3 <> 1) AS bad,
                      len(string_split(text, ' ')) AS nw,
                      1 + doc_id % 3 AS nli
               FROM documents)
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_streams,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 WHEN v = 2 THEN 3
                    ELSE 2 END) AS BIGINT) AS n_records,
           CAST(SUM(CASE WHEN bad OR v = 1 THEN 0 ELSE 1 END)
                AS BIGINT) AS n_responses,
           CAST(SUM(CASE WHEN bad OR v = 0 THEN 0 ELSE 1 END)
                AS BIGINT) AS n_conversions,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE
                  (CASE WHEN v <> 1 THEN 2 + nw + 3 * nli + 15
                        ELSE 0 END)
                + (CASE WHEN v <> 0 THEN nw ELSE 0 END)
                END) AS BIGINT) AS n_words
    FROM s GROUP BY 1
    """,
    doc="STREAMING modern-CommonCrawl ingest — the round-13 zstd "
    "DICTIONARY path (L249) as a Structured Streaming operator: "
    ".warc.zst blobs (every 5th id carrying the real 0x184D2A5D "
    "leading-skippable-frame trained dictionary, its record frames "
    "reference-encoder compressed AGAINST it) arrive as a parquet "
    "file stream (32 files, 16 per trigger); the hand RFC 8878 walk "
    "auto-registers the dictionary, primes the window, decodes, and "
    "the WARC/HTML/WET chain runs Arrow-batched ON THE STREAM PLAN "
    "with per-epoch per-bucket partials through the checkpointed "
    "foreachBatch + overwrite-idempotent epoch sink. Per-blob "
    "stateless; the batch twin's lie stripes (Content-Length 13ths, "
    "HTML swallow, omitted/truncated dictionary on 65th/195th ids — "
    "already-bad rows) carry into n_ok. operators/warc.py "
    "warc_zstd_text_extract, operators/zstd.py iter_zstd_frames",
    tags=("streaming", "llm", "multimodal", "text"),
)
def st32_stream_warc_zstd_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.warc import (
        synthesize_warc_zstd_media,
        warc_zstd_text_extract,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_warc_zstd_media, warc_zstd_text_extract,
        "warc", "n_streams", "n_records", "n_responses", "n_conversions",
        "n_words",
    )


@register(
    "st33_stream_hudi_mor_ingest",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 2 + doc_id % 3 AS ng
                 FROM documents),
    g AS (SELECT i, ng, unnest(range(0, ng)) AS gg FROM ids),
    r AS (SELECT i, ng, gg,
                 unnest(range(0, 8 + (i + 3 * gg) % 9)) AS rr
          FROM g),
    v AS (SELECT i, ng, rr, (i % 2 = 0) AS ev,
                 (7 * i + 11 * gg + 5 * rr) % 1000 AS k1,
                 (7 * i + 11 * gg + 5 * rr + 311) % 1000 AS k2,
                 (7 * i + 11 * gg + 5 * rr + 577) % 1000 AS k4
          FROM r),
    m AS (SELECT i, ng, ev,
                 CASE WHEN ev AND rr % 4 = 1 THEN TRUE
                      WHEN rr % 5 = 4 THEN FALSE
                      ELSE TRUE END AS live,
                 CASE WHEN ev AND rr % 4 = 1 THEN k4
                      WHEN rr % 3 = 0 THEN k2
                      ELSE k1 END AS kv
          FROM v),
    a AS (SELECT i, MAX(ng) AS ng,
                 MAX(CASE WHEN ev THEN 1 ELSE 0 END) AS ev,
                 SUM(CASE WHEN live THEN 1 ELSE 0 END) AS total_rows,
                 SUM(CASE WHEN live THEN kv ELSE 0 END) AS k_sum
          FROM m GROUP BY i),
    b AS (SELECT *, (i % 13 = 0 OR i % 17 = 0) AS bad FROM a)
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_tables,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE ng * (2 + ev) END)
                AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE total_rows END)
                AS BIGINT) AS total_rows,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE k_sum END) AS BIGINT)
             AS k_sum
    FROM b GROUP BY 1
    """,
    doc="STREAMING Hudi merge-on-read ingest — the round-14 "
    "headline (HoodieLogFormat block replay, lakehouse_hudi_mor) as "
    "a Structured Streaming operator: MOR table tars arrive as a "
    "parquet file stream (32 files, 16 per trigger); the timeline + "
    "log-block merge runs Arrow-batched ON THE STREAM PLAN (the "
    "CDC-shaped upsert stream the reference's dim sink implies, "
    "func/DimSinkFunction.java:28-72, at table-format level), with "
    "per-epoch per-bucket partials through the checkpointed "
    "foreachBatch + overwrite-idempotent epoch sink. Per-blob "
    "stateless; the batch twin's stripes (size lie 13ths, "
    "record-count lie 17ths, rollback/future-instant semantics) "
    "carry into n_ok/n_blocks. operators/hudi.py "
    "read_hudi_mor_snapshot",
    tags=("streaming", "llm", "lakehouse", "multimodal"),
)
def st33_stream_hudi_mor_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.hudi import (
        hudi_mor_stats,
        synthesize_hudi_mor_media,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_hudi_mor_media, hudi_mor_stats, "hudi",
        "n_tables", "n_blocks", "total_rows", "k_sum",
    )


@register(
    "st34_stream_flac_ingest",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 1 + doc_id % 2 AS ch,
                        600 + doc_id % 300 AS n
                 FROM documents),
    cs AS (SELECT i, ch, n, unnest(range(0, ch)) AS c FROM ids),
    ks AS (SELECT i, c, unnest(range(0, n)) AS k FROM cs),
    sv AS (SELECT i,
                  (7 * i + 13 * c + 5 * k) % 2001 - 1000 AS x
           FROM ks),
    a AS (SELECT i, CAST(SUM(x) AS BIGINT) AS sample_sum
          FROM sv GROUP BY i),
    b AS (SELECT ids.i, ids.n, a.sample_sum,
                 (ids.i % 13 = 0 OR ids.i % 17 = 0
                  OR ids.i % 19 = 0) AS bad
          FROM ids JOIN a ON a.i = ids.i)
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_blobs,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE n END) AS BIGINT)
             AS n_samples,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE sample_sum END)
                AS BIGINT) AS sample_sum
    FROM b GROUP BY 1
    """,
    doc="STREAMING FLAC ingest — the round-14 audio decoder "
    "(multimodal_flac_frames) as a Structured Streaming operator: "
    "FLAC blobs arrive as a parquet file stream (32 files, 16 per "
    "trigger); the full bit-level decode (Rice residuals, LPC, "
    "left/side, CRC-8/CRC-16, the MD5-of-decoded-PCM proof) runs "
    "Arrow-batched ON THE STREAM PLAN with per-epoch per-bucket "
    "partials through the checkpointed overwrite-idempotent epoch "
    "sink. Per-blob stateless; the batch twin's stripes (MD5 lie, "
    "CRC-16 flip, total-samples overstatement) carry into n_ok. "
    "operators/flac.py read_flac",
    tags=("streaming", "llm", "multimodal"),
)
def st34_stream_flac_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.flac import (
        flac_stats,
        synthesize_flac_media,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_flac_media, flac_stats, "flac", "n_blobs",
        "n_samples", "sample_sum",
    )


@register(
    "st35_stream_kafka_compacted",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 8 + doc_id % 8 AS nk,
                        6 + doc_id % 6 AS nd
                 FROM documents),
    cl AS (SELECT i, nk, nd, unnest(range(0, nk)) AS k FROM ids),
    clean_rows AS (
        SELECT i, k, 0 AS seq, k AS ord,
               CASE WHEN k % 7 = 3 THEN NULL
                    ELSE (11 * i + 7 * k) % 1000 END AS val
        FROM cl),
    dj AS (SELECT i, nk, nd, unnest(range(0, nd)) AS j FROM ids),
    dirty_rows AS (
        SELECT i, (i + 2 * j) % nk AS k, 1 AS seq, j AS ord,
               CASE WHEN j % 5 = 4 THEN NULL
                    ELSE (13 * i + 5 * j) % 1000 END AS val
        FROM dj),
    allr AS (SELECT * FROM clean_rows UNION ALL
             SELECT * FROM dirty_rows),
    latest AS (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY i, k
                 ORDER BY seq DESC, ord DESC) AS rn
        FROM allr),
    agg AS (
        SELECT i,
               CAST(COALESCE(SUM(CASE WHEN rn = 1
                         AND val IS NOT NULL THEN 1 END), 0)
                    AS BIGINT) AS live_keys,
               CAST(COALESCE(SUM(CASE WHEN rn = 1
                         AND val IS NOT NULL THEN val END), 0)
                    AS BIGINT) AS value_sum
        FROM latest GROUP BY i),
    b AS (SELECT ids.i, ids.nk + ids.nd AS n_records,
                 agg.live_keys, agg.value_sum,
                 (ids.i % 13 = 0 OR ids.i % 17 = 0
                  OR ids.i % 19 = 0) AS bad
          FROM ids JOIN agg ON agg.i = ids.i)
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_blobs,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE n_records END)
                AS BIGINT) AS n_records,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE live_keys END)
                AS BIGINT) AS live_keys,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE value_sum END)
                AS BIGINT) AS value_sum
    FROM b GROUP BY 1
    """,
    doc="STREAMING Kafka compacted-state ingest — the round-14 "
    "compaction reader (multimodal_kafka_compacted) as a "
    "Structured Streaming operator: compacted log dirs arrive as a "
    "parquet file stream (32 files, 16 per trigger); the full "
    "latest-wins state read (gapped-offset sparse walk, tombstone "
    "drops, cleaner-checkpoint books) runs Arrow-batched ON THE "
    "STREAM PLAN with per-epoch per-bucket partials through the "
    "checkpointed overwrite-idempotent epoch sink. Per-blob "
    "stateless; the batch twin's stripes carry into n_ok. "
    "operators/kafkalog.py read_kafka_compacted",
    tags=("streaming", "llm", "multimodal"),
)
def st35_stream_kafka_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.kafkalog import (
        kafka_compacted_stats,
        synthesize_kafka_compacted_media,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_kafka_compacted_media, kafka_compacted_stats,
        "kafka-compacted", "n_blobs", "n_records", "live_keys", "value_sum",
    )


@register(
    "st36_stream_git_pack",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 6 + doc_id % 8 AS nb,
                        2 + doc_id % 3 AS nc
                 FROM documents),
    b AS (SELECT i, nb, nc, unnest(range(0, nb)) AS bb FROM ids),
    j AS (SELECT i, nb, nc, bb,
                 unnest(range(0, 30 + (i + bb) % 25)) AS jj
          FROM b),
    s AS (SELECT i,
                 CAST(SUM((7 * i + 11 * bb + 3 * jj) % 251)
                      AS BIGINT) AS byte_sum,
                 CAST(COUNT(*) AS BIGINT) AS blob_bytes
          FROM j GROUP BY i),
    a AS (SELECT ids.i, ids.nb + 2 * ids.nc AS n_objects,
                 s.byte_sum, s.blob_bytes,
                 (ids.i % 13 = 0 OR ids.i % 17 = 0
                  OR ids.i % 19 = 0) AS bad
          FROM ids JOIN s ON s.i = ids.i)
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_blobs,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE n_objects END)
                AS BIGINT) AS n_objects,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE blob_bytes END)
                AS BIGINT) AS blob_bytes,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE byte_sum END)
                AS BIGINT) AS blob_byte_sum
    FROM a GROUP BY 1
    """,
    doc="STREAMING git-pack ingest — the round-14 packfile walk "
    "(multimodal_git_pack) as a Structured Streaming operator: "
    "pack+idx pairs arrive as a parquet file stream (32 files, 16 "
    "per trigger); the full verified census (zlib objects, delta "
    "resolution, recomputed SHA-1 identities, idx CRC/fanout "
    "books) runs Arrow-batched ON THE STREAM PLAN with per-epoch "
    "per-bucket partials through the checkpointed "
    "overwrite-idempotent epoch sink — the code-corpus ingest "
    "front door as a stream. operators/gitpack.py read_git_pack",
    tags=("streaming", "llm", "multimodal"),
)
def st36_stream_git_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.gitpack import (
        git_pack_stats,
        synthesize_git_pack_media,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_git_pack_media, git_pack_stats, "git-pack",
        "n_blobs", "n_objects", "blob_bytes", "blob_byte_sum",
    )


@register(
    "st37_stream_hbase_hfile",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 20 + doc_id % 25 AS nr
                 FROM documents),
    r AS (SELECT i, nr, unnest(range(0, nr)) AS rr FROM ids),
    v AS (SELECT i, nr, rr,
                 unnest(range(0, 8 + (i + rr) % 10)) AS jj
          FROM r),
    s AS (SELECT i,
                 CAST(SUM((7 * i + 5 * rr + jj) % 251) AS BIGINT)
                   AS val_sum
          FROM v GROUP BY i),
    a AS (SELECT ids.i, ids.nr, s.val_sum,
                 (ids.i % 13 = 0 OR ids.i % 17 = 0
                  OR ids.i % 19 = 0) AS bad
          FROM ids JOIN s ON s.i = ids.i)
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_blobs,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT)
             AS n_ok,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE nr END) AS BIGINT)
             AS n_cells,
           CAST(SUM(CASE WHEN bad THEN 0 ELSE val_sum END)
                AS BIGINT) AS value_byte_sum
    FROM a GROUP BY 1
    """,
    doc="STREAMING HFile ingest — the reference's dim-store format "
    "(multimodal_hbase_hfile) as a Structured Streaming operator: "
    "HFiles arrive as a parquet file stream (32 files, 16 per "
    "trigger); the full verified walk (chunked CRC32C, comparator "
    "order, root-index and trailer books) runs Arrow-batched ON "
    "THE STREAM PLAN with per-epoch per-bucket partials through "
    "the checkpointed overwrite-idempotent epoch sink — a region "
    "snapshot ingest as a stream. operators/hfile.py read_hfile",
    tags=("streaming", "llm", "multimodal"),
)
def st37_stream_hbase_hfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.hfile import (
        hfile_stats,
        synthesize_hfile_media,
    )

    return _replay_ingest(
        spark, sf_dir, synthesize_hfile_media, hfile_stats, "hfile", "n_blobs",
        "n_cells", "value_byte_sum",
    )
