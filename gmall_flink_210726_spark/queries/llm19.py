r"""LLM-pipeline wave 19: round-14 lakehouse + format depth.

Round-13 brief items (VERDICT r13 "Next round"): Hudi merge-on-read
log replay, Confluent Schema-Registry / Avro single-object framing,
Delta column mapping, Puffin wired into the Iceberg metadata walk,
Delta version checksum files, fragmented MP4, FLAC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from gmall_flink_210726_spark.registry import register
from gmall_flink_210726_spark.sources.batch import load_table


@register(
    "lakehouse_hudi_mor",
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
                 CAST(SUM(CASE WHEN live THEN 1 ELSE 0 END)
                      AS BIGINT) AS total_rows,
                 CAST(SUM(CASE WHEN live THEN kv ELSE 0 END)
                      AS BIGINT) AS k_sum
          FROM m GROUP BY i),
    b AS (SELECT *, (i % 13 = 0 OR i % 17 = 0) AS bad FROM a)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'hudi' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE 2 + ev END AS BIGINT)
             AS n_commits,
           CAST(CASE WHEN bad THEN 0 ELSE 1 END AS BIGINT)
             AS n_inflight,
           CAST(CASE WHEN bad THEN 0 ELSE ng END AS BIGINT)
             AS n_groups,
           CAST(CASE WHEN bad THEN 0 ELSE ng * (2 + ev) END
                AS BIGINT) AS n_blocks,
           CAST(CASE WHEN bad THEN 0
                     WHEN i % 7 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_corrupt,
           CAST(CASE WHEN bad THEN 0 ELSE total_rows END AS BIGINT)
             AS total_rows,
           CAST(CASE WHEN bad THEN 0 ELSE k_sum END AS BIGINT)
             AS k_sum
    FROM b
    """,
    doc="Hudi MERGE-ON-READ — the upsert-heavy half of the third "
    "table format (hudi.apache.org 'Table & Query Types' / "
    "HoodieLogFormat): per file group, the latest base parquet is "
    "merged at read with its HoodieLogFormat delta-log blocks "
    "(#HUDI# magic, u64 size, version, type, header map, content, "
    "trailing total-length) — AVRO data blocks upsert by record "
    "key via the schema-driven Avro datum decoder, DELETE blocks "
    "remove HoodieKeys, a COMMAND/ROLLBACK block neutralizes its "
    "TARGET instant's earlier blocks (Hudi's only protection "
    "against a FAILED writer's orphan blocks: the fixture plants a "
    "complete orphan data block at T3 with no timeline instant and "
    "rolls it back at T4 — a naive reader that applies it gets the "
    "wrong k_sum), blocks stamped NEWER than the latest completed "
    "instant are skipped (pending ingestion), and a "
    "size-inconsistent frame degrades to a CORRUPT block exactly as "
    "HoodieLogFileReader recovers: scan to the next magic, count "
    "it, keep reading. At 100 TB only the few-KB timeline and the "
    "touched file group's log blocks are read on top of the base "
    "file — the whole walk is one Arrow-batched map stage, no "
    "shuffle. Trust: deltacommit stats must name real log files "
    "with exact sizes (13th ids lie - refused), a well-framed data "
    "block lying about its record count refuses (17th ids), base "
    "numWrites re-proven against the parquet decode. "
    "operators/hudi.py read_hudi_mor_snapshot",
    tags=("llm", "lakehouse", "multimodal"),
)
def lakehouse_hudi_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.hudi import (
        hudi_mor_stats,
        synthesize_hudi_mor_media,
    )

    media = synthesize_hudi_mor_media(
        load_table(spark, sf_dir, "documents")
    )
    return hudi_mor_stats(media)


@register(
    "multimodal_kafka_avro_registry",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 12 + doc_id % 9 AS n
                 FROM documents),
    m AS (SELECT i, n, unnest(range(0, n)) AS mm FROM ids),
    v AS (SELECT i, n, mm,
                 ((i + mm) % 3 = 0) AS isv2,
                 ((i + mm) % 2 = 0) AS conf,
                 (3 * i + 7 * mm) % 1000 AS a,
                 CASE WHEN (i + mm) % 3 = 0
                      THEN (5 * i + 11 * mm) % 100
                      ELSE 5 END AS b
          FROM m),
    a AS (SELECT i, MAX(n) AS n,
                 CAST(SUM(CASE WHEN isv2 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_v2,
                 CAST(SUM(CASE WHEN conf THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_confluent,
                 CAST(SUM(a + b) AS BIGINT) AS value_sum
          FROM v GROUP BY i),
    b AS (SELECT *,
                 (i % 13 = 0 OR i % 17 = 0 OR i % 19 = 0) AS bad
          FROM a)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown'
                ELSE 'avro_registry' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE n END AS BIGINT)
             AS n_records,
           CAST(CASE WHEN bad THEN 0 ELSE n - n_v2 END AS BIGINT)
             AS n_v1,
           CAST(CASE WHEN bad THEN 0 ELSE n_v2 END AS BIGINT)
             AS n_v2,
           CAST(CASE WHEN bad THEN 0 ELSE n_confluent END AS BIGINT)
             AS n_confluent,
           CAST(CASE WHEN bad THEN 0 ELSE n - n_confluent END
                AS BIGINT) AS n_single_object,
           CAST(CASE WHEN bad THEN 0 ELSE value_sum END AS BIGINT)
             AS value_sum
    FROM b
    """,
    doc="Confluent Schema-Registry wire framing + Avro SINGLE-OBJECT "
    "encoding — the two real-world Kafka payload conventions "
    "(docs.confluent.io 'Wire format'; Avro 1.11 spec "
    "'Single-object encoding'), composed end-to-end with the "
    "RecordBatch v2 segment walk and the schema-RESOLUTION decoder: "
    "magic 0x00 + u32BE schema id resolved against the registry, or "
    "C3 01 + u64LE CRC-64-AVRO fingerprint of the writer schema's "
    "Parsing Canonical Form (both canonicalization and the Rabin "
    "CRC-64 hand-implemented from the spec; the table-driven CRC is "
    "pinned on Avro's published \"int\" test fingerprint "
    "0x7275d51a3f395c8f). Every message decodes with writer = the "
    "resolved schema and reader = the subject's LATEST version, so "
    "schema evolution (int->long promotion + defaulted added field) "
    "runs across a topic's mixed-version history. An unregistered "
    "schema id, an unknown fingerprint, or a dangling latest "
    "pointer REFUSES - resolving against a guessed schema would "
    "fabricate data. One Arrow-batched map stage, no shuffle. "
    "operators/kafkalog.py read_kafka_avro_registry, "
    "operators/avro.py parsing_canonical_form/rabin_fingerprint64",
    tags=("llm", "multimodal"),
)
def multimodal_kafka_avro_registry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.kafkalog import (
        kafka_avro_registry_stats,
        synthesize_kafka_registry_media,
    )

    media = synthesize_kafka_registry_media(
        load_table(spark, sf_dir, "documents")
    )
    return kafka_avro_registry_stats(media)


@register(
    "lakehouse_delta_column_mapping",
    oracle="""
    WITH ids AS (SELECT doc_id AS i FROM documents),
    f AS (SELECT i, unnest([0, 1, 2]) AS ff FROM ids),
    lf AS (SELECT i, ff FROM f
           WHERE NOT (i % 3 = 0 AND ff = 0)),
    r AS (SELECT i, ff,
                 unnest(range(0, 8 + (i + 2 * ff) % 9)) AS rr
          FROM lf),
    v AS (SELECT i, ff,
                 (7 * i + 13 * ff + 3 * rr) % 1000 AS kv,
                 (5 * i + 11 * ff + 2 * rr) % 500 AS sv
          FROM r),
    a AS (SELECT i,
                 CAST(COUNT(DISTINCT ff) AS BIGINT) AS live_files,
                 CAST(COUNT(*) AS BIGINT) AS live_rows,
                 CAST(SUM(kv) AS BIGINT) AS k_sum,
                 CAST(SUM(sv) AS BIGINT) AS score_sum
          FROM v GROUP BY i),
    b AS (SELECT *, (i % 13 = 0 OR i % 17 = 0) AS bad FROM a)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'delta' END AS format,
           CASE WHEN bad THEN 'none'
                WHEN i % 2 = 0 THEN 'id'
                ELSE 'name' END AS mode,
           CAST(CASE WHEN bad THEN 0 ELSE 2 END AS BIGINT)
             AS n_commits,
           CAST(CASE WHEN bad THEN 0 ELSE live_files END AS BIGINT)
             AS live_files,
           CAST(CASE WHEN bad THEN 0 ELSE live_rows END AS BIGINT)
             AS live_rows,
           CAST(CASE WHEN bad THEN 0 ELSE k_sum END AS BIGINT)
             AS k_sum,
           CAST(CASE WHEN bad THEN 0 ELSE score_sum END AS BIGINT)
             AS score_sum
    FROM b
    """,
    doc="Delta COLUMN MAPPING (delta.io/PROTOCOL.md 'Column "
    "Mapping') — the Delta twin of Iceberg's field-id evolution "
    "(L254): with delta.columnMapping.mode set, parquet columns "
    "live under per-field PHYSICAL names and the scan resolves "
    "logical columns by physicalName (name mode, odd ids) or by "
    "parquet field id == columnMapping.id (id mode, even ids), "
    "never by logical name. The decoy proves it: EVERY file also "
    "carries a physical column literally named 'k' (the pre-rename "
    "remnant, field id 99) holding value+1 — a logical-name reader "
    "silently returns wrong sums, this reader never opens it. "
    "Reader-version gating is honest: minReaderVersion 2 means "
    "column mapping, so only this mapping-aware scan accepts it; "
    "every logical-name scan in the module still refuses v2 tables "
    "outright. Lies: every 13th id's last file omits the mapped k "
    "column (schema demands it - refused); every 17th-miss id "
    "overstates numRecords (refused by the decode). One "
    "Arrow-batched map stage, no shuffle. operators/deltalog.py "
    "scan_delta_column_mapped",
    tags=("llm", "lakehouse", "multimodal"),
)
def lakehouse_delta_column_mapping(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.deltalog import (
        delta_column_mapping_scan,
        synthesize_delta_cm_media,
    )

    media = synthesize_delta_cm_media(
        load_table(spark, sf_dir, "documents")
    )
    return delta_column_mapping_scan(media)


@register(
    "lakehouse_iceberg_stats_binding",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 40 + doc_id % 60 AS n
                 FROM documents),
    r AS (SELECT i, n, unnest(range(0, n)) AS rr FROM ids),
    v AS (SELECT i, n, (i * 7 + 3 * rr) % 97 AS kv FROM r),
    a AS (SELECT i, MAX(n) AS n,
                 CAST(COUNT(DISTINCT kv) AS BIGINT) AS ndv
          FROM v GROUP BY i),
    b AS (SELECT *,
                 (i % 13 = 0 OR i % 17 = 0 OR i % 19 = 0) AS bad
          FROM a)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'iceberg' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE 2 END AS BIGINT)
             AS n_snapshots,
           CAST(CASE WHEN bad THEN 0 ELSE ndv END AS BIGINT) AS ndv,
           CAST(CASE WHEN bad THEN 0 ELSE ndv + 1 + i % 7 END
                AS BIGINT) AS stale_ndv,
           CAST(CASE WHEN bad THEN 0 ELSE n END AS BIGINT) AS n_rows
    FROM b
    """,
    doc="Puffin WIRED INTO the Iceberg metadata walk (iceberg spec "
    "'Table Statistics') — closes round 13's composition gap: the "
    "current snapshot's statistics file is resolved through "
    "metadata.json's statistics list BY SNAPSHOT-ID, with the "
    "entry's file-size/footer-size books proven against the actual "
    "Puffin bytes, the declared blob-metadata proven against the "
    "Puffin footer's own (type, fields, snapshot-id), the claimed "
    "ndv against the payload's strictly-ascending books, and "
    "finally against the DISTINCT count of the snapshot's real data "
    "through the manifest-list -> manifest -> parquet chain. Every "
    "table also carries a STALE statistics file truthfully "
    "describing the OLDER snapshot (its ndv constructed to always "
    "differ) — the stale_ndv output column proves the decoy exists "
    "and was not the one read. Lies: ndv+1 claim (payload books "
    "refuse, 13th ids), file-size lie (17th), the current entry "
    "pointed at the old FILE (blob snapshot-id disagrees - 19th). "
    "At 100 TB the planner reads a few-KB stats file instead of "
    "scanning data - but only a BOUND one. operators/puffin.py "
    "read_iceberg_stats_bound",
    tags=("llm", "lakehouse", "multimodal"),
)
def lakehouse_iceberg_stats_binding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.puffin import (
        iceberg_stats_bound,
        synthesize_iceberg_stats_media,
    )

    media = synthesize_iceberg_stats_media(
        load_table(spark, sf_dir, "documents")
    )
    return iceberg_stats_bound(media)


@register(
    "lakehouse_delta_version_checksum",
    oracle="""
    WITH m AS (SELECT doc_id AS i,
                      doc_id % 13 = 0 OR doc_id % 17 = 0 AS bad,
                      2 + doc_id % 3 AS c
               FROM documents),
    f AS (SELECT i, c, vv, kk,
                 (17 * i + 31 * vv + 7 * kk) % 4000 + 1 AS s
          FROM (SELECT i, c, unnest(range(0, c)) AS vv FROM m),
               (SELECT unnest([0, 1]) AS kk)
          WHERE kk = 0 OR vv = 0),
    liv AS (SELECT i, s
            FROM f
            WHERE NOT (kk = 0 AND vv < c - 1 AND (i + vv + 1) % 2 = 0)),
    rows_per AS (SELECT i, s, 10 + s % 90 AS nrows FROM liv),
    ks AS (SELECT i, SUM((s * 7 + 3 * rr) % 1000) AS kpart
           FROM (SELECT i, s, nrows, unnest(range(0, nrows)) AS rr
                 FROM rows_per)
           GROUP BY i),
    ag AS (SELECT rp.i, COUNT(*) AS live_files,
                  SUM(rp.nrows) AS live_rows
           FROM rows_per rp GROUP BY rp.i)
    SELECT m.i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'delta' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE c END AS BIGINT)
             AS n_commits,
           CAST(CASE WHEN bad THEN 0
                     ELSE c - CASE WHEN m.i % 5 = 0 THEN 1 ELSE 0 END
                END AS BIGINT) AS n_crc,
           CAST(CASE WHEN bad THEN 0 ELSE ag.live_files END AS BIGINT)
             AS live_files,
           CAST(CASE WHEN bad THEN 0 ELSE ag.live_rows END AS BIGINT)
             AS live_rows,
           CAST(CASE WHEN bad THEN 0 ELSE ks.kpart END AS BIGINT)
             AS k_sum
    FROM m JOIN ag ON ag.i = m.i JOIN ks ON ks.i = m.i
    """,
    doc="Delta VERSION CHECKSUM files — the per-commit "
    "``_delta_log/V.crc`` JSON real writers emit (tableSizeBytes, "
    "numFiles, numMetadata, numProtocol), verified against the log "
    "REPLAYED to that version: the log-level books-balance layer "
    "that page CRCs and DV checksums do not cover (they prove bytes; "
    "this proves the SNAPSHOT). A ``.crc`` that disagrees with "
    "replay refuses the whole table even though every commit and "
    "part file is individually clean — every 13th id's last crc "
    "overstates tableSizeBytes by ONE byte, every 17th-miss id's "
    "overstates numFiles; a missing crc is tolerated (every 5th id "
    "has a gap, counted in n_crc). The data-level chain "
    "(size + numRecords vs the hand parquet decode) then runs "
    "unchanged. operators/deltalog.py scan_delta_table_checked",
    tags=("llm", "lakehouse", "multimodal"),
)
def lakehouse_delta_version_checksum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.deltalog import (
        delta_checked_scan,
        synthesize_delta_crc_media,
    )

    media = synthesize_delta_crc_media(
        load_table(spark, sf_dir, "documents")
    )
    return delta_checked_scan(media)


@register(
    "multimodal_mp4_fragments",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 1 + doc_id % 2 AS nt,
                        2 + doc_id % 4 AS nf
                 FROM documents),
    fr AS (SELECT i, nt, unnest(range(0, nf)) AS f FROM ids),
    tt AS (SELECT i, f, unnest(range(1, nt + 1)) AS t FROM fr),
    sj AS (SELECT i, f, t,
                  unnest(range(0, 3 + (i + f + t) % 5)) AS j
           FROM tt),
    sv AS (SELECT i, f, t, j,
                  CASE WHEN (f + t) % 2 = 0
                       THEN 20 + (i * 7 + f * 5 + t * 3 + j) % 40
                       ELSE 50 + (i + t) % 30 END AS sz,
                  CASE WHEN (f + t) % 2 = 0
                       THEN 100 + (i + f) % 20
                       ELSE 30 + (i + f + j) % 25 END AS du
           FROM sj),
    fb AS (SELECT i, f, CAST(SUM(sz) AS BIGINT) AS bytes_f,
                  CAST(SUM(du) AS BIGINT) AS dur_f,
                  CAST(COUNT(*) AS BIGINT) AS ns_f
           FROM sv GROUP BY i, f),
    pb AS (SELECT i, f, unnest(range(0, bytes_f)) AS p FROM fb),
    psum AS (SELECT i,
                    CAST(SUM((i + 31 * f + 7 * p) % 256) AS BIGINT)
                      AS payload_sum
             FROM pb GROUP BY i),
    agg AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n_fragments,
                   CAST(SUM(ns_f) AS BIGINT) AS n_samples,
                   CAST(SUM(bytes_f) AS BIGINT) AS total_bytes,
                   CAST(SUM(dur_f) AS BIGINT) AS total_duration
            FROM fb GROUP BY i),
    b AS (SELECT ids.i, ids.nt, agg.n_fragments, agg.n_samples,
                 agg.total_bytes, agg.total_duration,
                 psum.payload_sum,
                 (ids.i % 13 = 0 OR ids.i % 17 = 0
                  OR ids.i % 19 = 0) AS bad
          FROM ids JOIN agg ON agg.i = ids.i
                   JOIN psum ON psum.i = ids.i)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'fmp4' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE nt END AS BIGINT)
             AS n_tracks,
           CAST(CASE WHEN bad THEN 0 ELSE n_fragments END AS BIGINT)
             AS n_fragments,
           CAST(CASE WHEN bad THEN 0 ELSE n_samples END AS BIGINT)
             AS n_samples,
           CAST(CASE WHEN bad THEN 0 ELSE total_bytes END AS BIGINT)
             AS total_bytes,
           CAST(CASE WHEN bad THEN 0 ELSE total_duration END
                AS BIGINT) AS total_duration,
           CAST(CASE WHEN bad THEN 0 ELSE payload_sum END AS BIGINT)
             AS payload_sum
    FROM b
    """,
    doc="Fragmented MP4 (ISO/IEC 14496-12 §8.8, the DASH/CMAF "
    "streaming layout): samples live in per-fragment moof/traf/trun "
    "runs instead of the moov sample tables — the missing half of "
    "the video-ingest walk (L139-L140 cover moov-only files). "
    "Implements trex defaults (mvex), tfhd default-sample-duration/"
    "size with the default-base-is-moof addressing (the legacy "
    "base-data-offset path refuses rather than guesses), tfdt "
    "decode-time chaining, and trun per-sample size/duration "
    "resolution through all three default levels. Trust chain: "
    "mfhd sequence numbers must run 1..n (a gap degrades - 17th "
    "ids), every traf's tfdt must equal the track's accumulated "
    "duration (19th ids lie), every run must start exactly where "
    "the previous ended, and the runs must TILE the mdat payload "
    "(a one-byte-short mdat degrades - 13th ids). payload_sum "
    "proves the byte spans were actually read. One Arrow-batched "
    "map stage, no shuffle. operators/mp4.py read_mp4_fragments",
    tags=("llm", "multimodal"),
)
def multimodal_mp4_fragments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.mp4 import (
        mp4_fragment_stats,
        synthesize_fmp4_media,
    )

    media = synthesize_fmp4_media(
        load_table(spark, sf_dir, "documents")
    )
    return mp4_fragment_stats(media)


@register(
    "multimodal_flac_frames",
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
    b AS (SELECT ids.i, ids.ch, ids.n, a.sample_sum,
                 (ids.i % 13 = 0 OR ids.i % 17 = 0
                  OR ids.i % 19 = 0) AS bad
          FROM ids JOIN a ON a.i = ids.i)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'flac' END AS format,
           CAST(CASE WHEN bad THEN 0
                     ELSE ([8000, 16000, 22050, 44100])[i % 4 + 1]
                END AS BIGINT) AS sample_rate,
           CAST(CASE WHEN bad THEN 0 ELSE ch END AS BIGINT)
             AS channels,
           CAST(CASE WHEN bad THEN 0 ELSE 16 END AS BIGINT) AS bps,
           CAST(CASE WHEN bad THEN 0 ELSE (n + 255) // 256 END
                AS BIGINT) AS n_frames,
           CAST(CASE WHEN bad THEN 0 ELSE n END AS BIGINT)
             AS n_samples,
           CAST(CASE WHEN bad THEN 0 ELSE sample_sum END AS BIGINT)
             AS sample_sum
    FROM b
    """,
    doc="FLAC decode FROM SCRATCH (RFC 9639) — the remaining common "
    "audio-corpus format after WAV/u-law/ADPCM/MP3: STREAMINFO, "
    "frame headers with CRC-8 (poly 0x07, pinned on the published "
    "'123456789' check value 0xF4), subframes CONSTANT / VERBATIM / "
    "FIXED orders 0-4 / LPC (qlp precision+shift+coefficients), "
    "Rice residuals with partitioned parameters and the raw-bits "
    "escape, LEFT/SIDE stereo decorrelation (the side channel "
    "carries bps+1 bits), per-frame CRC-16 (poly 0x8005, check "
    "value 0xFEE8), and STREAMINFO's MD5 of the interleaved PCM "
    "verified against the ACTUALLY-DECODED samples via hashlib — "
    "the end-to-end bit-exactness proof. No FLAC encoder ships in "
    "the container, so fixtures come from a separate minimal "
    "encoder in the module (the L115 synthesize-then-verify "
    "pattern) rotating every strategy: fixed-1/fixed-2/LPC/verbatim "
    "by (i+f+c)%4, partition orders 0/1, escape every 7th, "
    "left/side on odd stereo frames. Stripes: MD5 lie (13th - only "
    "full decode exposes it), last-frame CRC-16 flip (17th), "
    "total-samples overstatement (19th) - all refuse. One "
    "Arrow-batched map stage, no shuffle. operators/flac.py "
    "read_flac",
    tags=("llm", "multimodal"),
)
def multimodal_flac_frames(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.flac import (
        flac_stats,
        synthesize_flac_media,
    )

    media = synthesize_flac_media(
        load_table(spark, sf_dir, "documents")
    )
    return flac_stats(media)


@register(
    "lakehouse_iceberg_pos_deletes",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 2 + doc_id % 3 AS nf,
                        1 + doc_id % 2 AS nd
                 FROM documents),
    f AS (SELECT i, nf, nd, unnest(range(0, nf)) AS ff FROM ids),
    r AS (SELECT i, nf, nd, ff,
                 unnest(range(0, 10 + (i + 3 * ff) % 30)) AS rr
          FROM f),
    v AS (SELECT i, nf, nd,
                 ((rr + i + ff) % 5 = 0) AS del,
                 (7 * i + 13 * ff + 3 * rr) % 1000 AS kv
          FROM r),
    a AS (SELECT i, MAX(nf) AS nf, MAX(nd) AS nd,
                 CAST(COUNT(*) AS BIGINT) AS total_rows,
                 CAST(SUM(CASE WHEN del THEN 1 ELSE 0 END)
                      AS BIGINT) AS deleted_rows,
                 CAST(SUM(CASE WHEN del THEN 0 ELSE kv END)
                      AS BIGINT) AS live_k_sum
          FROM v GROUP BY i),
    b AS (SELECT *,
                 (i % 13 = 0 OR i % 17 = 0 OR i % 19 = 0) AS bad
          FROM a)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'iceberg' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE nf END AS BIGINT)
             AS n_data_files,
           CAST(CASE WHEN bad THEN 0 ELSE nd END AS BIGINT)
             AS n_delete_files,
           CAST(CASE WHEN bad THEN 0 ELSE total_rows END AS BIGINT)
             AS total_rows,
           CAST(CASE WHEN bad THEN 0 ELSE deleted_rows END
                AS BIGINT) AS deleted_rows,
           CAST(CASE WHEN bad THEN 0 ELSE total_rows - deleted_rows
                END AS BIGINT) AS live_rows,
           CAST(CASE WHEN bad THEN 0 ELSE live_k_sum END AS BIGINT)
             AS live_k_sum
    FROM b
    """,
    doc="Iceberg format-v2 POSITION DELETE files (spec 'Position "
    "Delete Files') — the merge-on-read mechanism real v2 tables "
    "use, completing the deletion story next to the v3 Puffin DV "
    "path (L265): delete manifests (content=1) resolve parquet "
    "delete files of (file_path, pos) rows — file_path "
    "DICTIONARY-decoded by the hand RLE-hybrid walk, pos by the "
    "hand int64 walk — which must be SORTED by (file_path, pos) "
    "with unique, in-range positions referencing real data files "
    "(the spec's sort rule is what keeps the merge streamable at "
    "100 TB: one sequential pass per data file, no random seeks). "
    "Survivor k_sum is recomputed from the actually-decoded data "
    "values minus deleted positions. Lies: a position one past the "
    "file's end (13th), a record_count overstatement on the delete "
    "file itself (17th), a sort violation (19th) - all refuse. One "
    "Arrow-batched map stage, no shuffle. operators/iceberg2.py "
    "read_iceberg_pos_deletes",
    tags=("llm", "lakehouse", "multimodal"),
)
def lakehouse_iceberg_pos_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.iceberg2 import (
        iceberg_pos_delete_stats,
        synthesize_iceberg_posdel_media,
    )

    media = synthesize_iceberg_posdel_media(
        load_table(spark, sf_dir, "documents")
    )
    return iceberg_pos_delete_stats(media)


@register(
    "multimodal_kafka_time_index",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 3 + doc_id % 4 AS nb
                 FROM documents),
    bt AS (SELECT i, nb, unnest(range(0, nb)) AS b FROM ids),
    bc AS (SELECT i, nb, b, 2 + (i + b) % 4 AS rc FROM bt),
    cum AS (SELECT i, nb, b, rc,
                   COALESCE(SUM(rc) OVER (
                       PARTITION BY i ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS base_off
            FROM bc),
    bounds AS (SELECT i, nb, b, base_off,
                      base_off + rc - 1 AS last_off,
                      100 * (base_off + rc - 1) + i % 50 AS max_ts
               FROM cum),
    tgt AS (SELECT i,
                   CAST(CEIL((520 - i % 50) / 100.0) AS BIGINT)
                     AS off
            FROM ids),
    entry AS (SELECT i, MAX(b) AS entry_b
              FROM bounds
              WHERE b % 2 = 0 AND max_ts <= 520
              GROUP BY i),
    foundb AS (SELECT bounds.i, bounds.b AS found_b
               FROM bounds JOIN tgt ON tgt.i = bounds.i
               WHERE tgt.off BETWEEN bounds.base_off
                     AND bounds.last_off),
    agg AS (SELECT ids.i, ids.nb,
                   CAST((ids.nb + 1) // 2 AS BIGINT) AS n_entries,
                   CAST(foundb.found_b
                        - COALESCE(entry.entry_b, 0) + 1 AS BIGINT)
                     AS batches_scanned,
                   tgt.off,
                   (ids.i % 13 = 0 OR ids.i % 17 = 0
                    OR ids.i % 19 = 0) AS bad
            FROM ids
            JOIN tgt ON tgt.i = ids.i
            JOIN foundb ON foundb.i = ids.i
            LEFT JOIN entry ON entry.i = ids.i)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'kafka' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE n_entries END AS BIGINT)
             AS n_entries,
           CAST(CASE WHEN bad THEN 0 ELSE nb END AS BIGINT)
             AS n_batches,
           CAST(CASE WHEN bad THEN 0 ELSE batches_scanned END
                AS BIGINT) AS batches_scanned,
           CAST(CASE WHEN bad THEN 0 ELSE off END AS BIGINT)
             AS found_offset,
           CAST(CASE WHEN bad THEN 0 ELSE 100 * off + i % 50 END
                AS BIGINT) AS found_ts_rel,
           CAST(CASE WHEN bad THEN 0 ELSE (5 * i + 7 * off) % 1000
                END AS BIGINT) AS payload
    FROM agg
    """,
    doc="Kafka TIME INDEX (.timeindex) seek-by-timestamp — the "
    "second of the broker's two segment indexes, completing L243's "
    "offset-index story (offsetsForTimes is how every "
    "start-from-timestamp consumer boots): entries are (timestamp "
    "i64 BE, relativeOffset i32 BE), strictly ascending in both "
    "fields, and each must name a real batch's maxTimestamp and "
    "that batch's last offset; additionally every batch HEADER's "
    "maxTimestamp is re-proven against its records' actual maximum "
    "(firstTimestamp + delta) — a header that lies silently breaks "
    "every time seek. The lookup floors to the last entry <= "
    "target, scans forward, and returns the FIRST record with "
    "timestamp >= target with its decoded payload; "
    "batches_scanned proves the index actually bounded the scan. "
    "Lies: an entry timestamp no batch has (13th), a header "
    "maxTimestamp overstatement (17th), non-monotonic entries "
    "(19th) - all refuse. operators/kafkalog.py "
    "read_kafka_time_lookup",
    tags=("llm", "multimodal", "kafka"),
)
def multimodal_kafka_time_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.kafkalog import (
        kafka_time_lookup_stats,
        synthesize_kafka_timeindexed_media,
    )

    media = synthesize_kafka_timeindexed_media(
        load_table(spark, sf_dir, "documents")
    )
    return kafka_time_lookup_stats(media, 520)


@register(
    "lakehouse_hudi_mor_time_travel",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 2 + doc_id % 3 AS ng
                 FROM documents),
    g AS (SELECT i, ng, unnest(range(0, ng)) AS gg FROM ids),
    r AS (SELECT i, ng, gg,
                 unnest(range(0, 8 + (i + 3 * gg) % 9)) AS rr
          FROM g),
    v AS (SELECT i, ng, rr,
                 (7 * i + 11 * gg + 5 * rr) % 1000 AS k1,
                 (7 * i + 11 * gg + 5 * rr + 311) % 1000 AS k2
          FROM r),
    m AS (SELECT i, ng,
                 (rr % 5 <> 4) AS live,
                 CASE WHEN rr % 3 = 0 THEN k2 ELSE k1 END AS kv
          FROM v),
    a AS (SELECT i, MAX(ng) AS ng,
                 CAST(SUM(CASE WHEN live THEN 1 ELSE 0 END)
                      AS BIGINT) AS total_rows,
                 CAST(SUM(CASE WHEN live THEN kv ELSE 0 END)
                      AS BIGINT) AS k_sum
          FROM m GROUP BY i),
    b AS (SELECT *, (i % 13 = 0 OR i % 17 = 0) AS bad FROM a)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'hudi' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE 2 END AS BIGINT)
             AS n_commits,
           CAST(CASE WHEN bad THEN 0 ELSE 1 END AS BIGINT)
             AS n_inflight,
           CAST(CASE WHEN bad THEN 0 ELSE ng END AS BIGINT)
             AS n_groups,
           CAST(CASE WHEN bad THEN 0 ELSE ng * 2 END AS BIGINT)
             AS n_blocks,
           CAST(CASE WHEN bad THEN 0
                     WHEN i % 7 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_corrupt,
           CAST(CASE WHEN bad THEN 0 ELSE total_rows END AS BIGINT)
             AS total_rows,
           CAST(CASE WHEN bad THEN 0 ELSE k_sum END AS BIGINT)
             AS k_sum
    FROM b
    """,
    doc="Hudi MOR TIMESTAMP-AS-OF — time travel over the "
    "merge-on-read log (lakehouse_hudi_mor at instant T2): the "
    "timeline prefix keeps only T1 base + T2 deltacommit, and the "
    "BLOCK filter (instant > as-of is a pending ingestion) must "
    "drop the even ids' T4 data blocks AND the T4 rollback block — "
    "which in turn leaves T3's orphan blocks dead for a different "
    "reason than at latest (their instant exceeds the as-of "
    "max-instant rather than being rolled back): the two skip rules "
    "compose. Even and odd ids converge to the same two-commit "
    "shape the oracle pins. operators/hudi.py "
    "read_hudi_mor_snapshot(asof)",
    tags=("llm", "lakehouse", "multimodal"),
)
def lakehouse_hudi_mor_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.hudi import (
        _T2,
        HUDI_MOR_SCHEMA,
        read_hudi_mor_snapshot,
        synthesize_hudi_mor_media,
    )
    from gmall_flink_210726_spark.operators.multimodal import map_pandas

    import pandas as pd

    media = synthesize_hudi_mor_media(
        load_table(spark, sf_dir, "documents")
    )
    cols = [f.name for f in HUDI_MOR_SCHEMA.fields]

    def gen(batches):
        for pdf in batches:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                row = {c: 0 for c in cols}
                row.update(media_id=int(mid), format="unknown")
                b = bytes(blob) if blob is not None else b""
                try:
                    st = read_hudi_mor_snapshot(b, asof=_T2)
                except Exception:
                    st = None
                if st is not None:
                    row.update(format="hudi", **st)
                out.append(row)
            yield pd.DataFrame(out, columns=cols)

    return map_pandas(media, gen, HUDI_MOR_SCHEMA, ["media_id", "content"])


@register(
    "multimodal_zip64_members",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 3 + doc_id % 5 AS n
                 FROM documents),
    e AS (SELECT i, n, unnest(range(0, n)) AS j FROM ids),
    sz AS (SELECT i, n, j, 40 + (i * 31 + 13 * j) % 200 AS size,
                  length('z_' || CAST(i AS VARCHAR) || '_'
                         || CAST(j AS VARCHAR) || '.bin') AS nlen,
                  4 + 8 * (CASE WHEN j % 2 = 0 THEN 1 ELSE 2 END)
                    AS elen
           FROM e),
    pb AS (SELECT i, j, unnest(range(0, size)) AS k FROM sz),
    ps AS (SELECT i,
                  CAST(SUM((i * 19 + 7 * j + 3 * k) % 256) AS BIGINT)
                    AS payload_sum
           FROM pb GROUP BY i),
    agg AS (SELECT i, MAX(n) AS n,
                   CAST(SUM(size) AS BIGINT) AS total_bytes,
                   CAST(SUM(46 + nlen + elen) AS BIGINT) AS cd_size
            FROM sz GROUP BY i),
    b AS (SELECT agg.i, agg.n, agg.total_bytes, agg.cd_size,
                 ps.payload_sum,
                 (agg.i % 13 = 0 OR agg.i % 17 = 0
                  OR agg.i % 19 = 0) AS bad
          FROM agg JOIN ps ON ps.i = agg.i)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'zip64' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE n END AS BIGINT)
             AS n_entries,
           CAST(CASE WHEN bad THEN 0 ELSE total_bytes END AS BIGINT)
             AS total_bytes,
           CAST(CASE WHEN bad THEN 0 ELSE payload_sum END AS BIGINT)
             AS payload_sum,
           CAST(CASE WHEN bad THEN 0 ELSE cd_size END AS BIGINT)
             AS cd_size,
           CAST(CASE WHEN bad THEN 0 ELSE n END AS BIGINT)
             AS n_zip64_extras,
           CASE WHEN bad THEN ''
                ELSE 'z_' || CAST(i AS VARCHAR) || '_0.bin'
           END AS first_name
    FROM b
    """,
    doc="ZIP64 (APPNOTE 4.3.14/4.5.3) — the >4 GiB / >65535-entry "
    "archive layout every large crawl-corpus zip actually uses: "
    "sentinel 0xFFFF/0xFFFFFFFF fields in the classic EOCD redirect "
    "through the ZIP64 EOCD LOCATOR to the ZIP64 "
    "end-of-central-directory record, and per-entry 0x0001 extra "
    "fields carry the real 64-bit values IN ORDER for exactly the "
    "fields that hit the sentinel (the ordered-subset rule — even "
    "fixture entries sentinel only the local-header offset, odd "
    "ones both sizes). Every STORED payload is CRC-verified, the "
    "central directory must abut the ZIP64 EOCD, the EOCD the "
    "locator; the classic walk refuses zip64 archives outright "
    "rather than reading sentinel values as sizes. Lies: locator "
    "offset off by one (13th), an extra missing a required u64 "
    "(17th), an entry-count overstatement in the ZIP64 EOCD (19th) "
    "- all refuse. operators/zipc.py _walk_zip64",
    tags=("llm", "multimodal"),
)
def multimodal_zip64_members(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.zipc import (
        synthesize_zip64_media,
        zip64_entry_stats,
    )

    media = synthesize_zip64_media(
        load_table(spark, sf_dir, "documents")
    )
    return zip64_entry_stats(media)


@register(
    "multimodal_warc_revisit",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 2 + doc_id % 3 AS nu
                 FROM documents),
    u AS (SELECT i, nu, unnest(range(0, nu)) AS uu FROM ids),
    v AS (SELECT i, nu,
                 30 + (i * 7 + 11 * uu) % 60 AS blen,
                 (i + uu) % 3 AS rv
          FROM u),
    a AS (SELECT i, MAX(nu) AS nu,
                 CAST(SUM(rv) AS BIGINT) AS n_revisits,
                 CAST(SUM(blen) AS BIGINT) AS stored_bytes,
                 CAST(SUM(rv * blen) AS BIGINT) AS saved_bytes
          FROM v GROUP BY i),
    b AS (SELECT *,
                 (i % 13 = 0 OR i % 17 = 0 OR i % 19 = 0) AS bad
          FROM a)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'warc' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE 1 + nu + n_revisits END
                AS BIGINT) AS n_records,
           CAST(CASE WHEN bad THEN 0 ELSE nu END AS BIGINT)
             AS n_responses,
           CAST(CASE WHEN bad THEN 0 ELSE n_revisits END AS BIGINT)
             AS n_revisits,
           CAST(CASE WHEN bad THEN 0 ELSE stored_bytes END
                AS BIGINT) AS stored_bytes,
           CAST(CASE WHEN bad THEN 0 ELSE saved_bytes END AS BIGINT)
             AS saved_bytes
    FROM b
    """,
    doc="WARC REVISIT records (ISO 28500 §6.7.2) — the crawl "
    "corpus's OWN dedup mechanism: a recrawl whose payload digest "
    "matches an earlier capture stores a headers-only revisit "
    "record (WARC-Profile identical-payload-digest) with "
    "WARC-Refers-To + WARC-Payload-Digest instead of the body. The "
    "walk re-proves every response's DECLARED payload digest "
    "against its actual content (base32 SHA-1, the cc-index "
    "convention), then demands every revisit reference an EARLIER "
    "response in the file and carry exactly its digest; "
    "saved_bytes counts the bodies dedup avoided re-storing — the "
    "quantity a corpus-size estimate needs. Lies: a dangling "
    "refers-to (13th), a digest one capture off (17th), a response "
    "declaring a wrong digest (19th) - all refuse; resolving a "
    "revisit against the wrong capture silently corrupts "
    "deduplication. operators/warc.py _walk_warc_revisit",
    tags=("llm", "multimodal", "text"),
)
def multimodal_warc_revisit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.warc import (
        synthesize_warc_revisit_media,
        warc_revisit_stats,
    )

    media = synthesize_warc_revisit_media(
        load_table(spark, sf_dir, "documents")
    )
    return warc_revisit_stats(media)


@register(
    "lakehouse_iceberg_eq_deletes",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 2 + doc_id % 3 AS nf,
                        1 + doc_id % 2 AS ne
                 FROM documents),
    f AS (SELECT i, nf, ne, unnest(range(0, nf)) AS ff FROM ids),
    r AS (SELECT i, nf, ne, ff,
                 unnest(range(0, 12 + (i + 5 * ff) % 20)) AS rr
          FROM f),
    v AS (SELECT i, nf, ne,
                 ((ff = 0 AND (rr + i) % 4 = 0)
                  OR (ne = 2 AND ff <= 1 AND (rr + i + 3) % 4 = 0))
                   AS del,
                 (7 * i + 13 * ff + 3 * rr) % 1000 AS vv
          FROM r),
    a AS (SELECT i, MAX(nf) AS nf, MAX(ne) AS ne,
                 CAST(COUNT(*) AS BIGINT) AS total_rows,
                 CAST(SUM(CASE WHEN del THEN 1 ELSE 0 END)
                      AS BIGINT) AS deleted_rows,
                 CAST(SUM(CASE WHEN del THEN 0 ELSE vv END)
                      AS BIGINT) AS live_v_sum
          FROM v GROUP BY i),
    b AS (SELECT *,
                 (i % 13 = 0 OR i % 17 = 0 OR i % 19 = 0) AS bad
          FROM a)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'iceberg' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE nf END AS BIGINT)
             AS n_data_files,
           CAST(CASE WHEN bad THEN 0 ELSE ne END AS BIGINT)
             AS n_delete_files,
           CAST(CASE WHEN bad THEN 0 ELSE total_rows END AS BIGINT)
             AS total_rows,
           CAST(CASE WHEN bad THEN 0 ELSE deleted_rows END
                AS BIGINT) AS deleted_rows,
           CAST(CASE WHEN bad THEN 0 ELSE total_rows - deleted_rows
                END AS BIGINT) AS live_rows,
           CAST(CASE WHEN bad THEN 0 ELSE live_v_sum END AS BIGINT)
             AS live_v_sum
    FROM b
    """,
    doc="Iceberg format-v2 EQUALITY DELETE files (spec 'Equality "
    "Delete Files') — the other v2 merge-on-read delete kind next "
    "to position deletes (L275): delete manifests resolve parquet "
    "files of just the equality key columns (entry equality_ids), "
    "and a data row dies when its key tuple matches any delete row "
    "whose manifest sequence number is STRICTLY GREATER than the "
    "data file's — the spec's strict inequality means a delete "
    "never hits rows committed with or after it, which the fixture "
    "pins with same-sequence key collisions that must survive. Key "
    "columns resolve by parquet FIELD ID on both sides, never by "
    "name (the L254 evolution rule). At 100 TB the delete keysets "
    "are few-KB side inputs per file group: the merge stays one "
    "sequential pass per data file. Lies: equality_ids naming a "
    "field id no file has (13th), delete record_count "
    "overstatement (17th), delete manifest_length lie (19th) - all "
    "refuse. One Arrow-batched map stage, no shuffle. "
    "operators/iceberg2.py read_iceberg_eq_deletes",
    tags=("llm", "lakehouse", "multimodal"),
)
def lakehouse_iceberg_eq_deletes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.iceberg2 import (
        iceberg_eq_delete_stats,
        synthesize_iceberg_eqdel_media,
    )

    media = synthesize_iceberg_eqdel_media(
        load_table(spark, sf_dir, "documents")
    )
    return iceberg_eq_delete_stats(media)


@register(
    "multimodal_ogg_opus",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 20 + doc_id % 30 AS nq
                 FROM documents),
    p AS (SELECT i, nq, unnest(range(0, nq)) AS pp FROM ids),
    s AS (SELECT i, nq,
                 CASE pp % 4 WHEN 3 THEN 3 WHEN 1 THEN 2 ELSE 1 END
                   * CASE (i + 3 * pp) % 4 WHEN 0 THEN 120
                          WHEN 1 THEN 240 WHEN 2 THEN 480
                          ELSE 960 END AS samp,
                 CASE pp % 4 WHEN 3 THEN 3 WHEN 1 THEN 2 ELSE 1 END
                   AS fr
          FROM p),
    a AS (SELECT i, MAX(nq) AS nq,
                 CAST(SUM(fr) AS BIGINT) AS n_frames,
                 CAST(SUM(samp) AS BIGINT) AS total
          FROM s GROUP BY i),
    b AS (SELECT *,
                 (i % 13 = 0 OR i % 17 = 0 OR i % 19 = 0) AS bad
          FROM a)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'ogg-opus' END AS format,
           CAST(CASE WHEN bad THEN 0
                ELSE 5 + CAST(CEIL((nq - 11) / 4.0) AS BIGINT)
                END AS BIGINT) AS n_pages,
           CAST(CASE WHEN bad THEN 0 ELSE nq END AS BIGINT)
             AS n_packets,
           CAST(CASE WHEN bad THEN 0 ELSE n_frames END AS BIGINT)
             AS n_frames,
           CAST(CASE WHEN bad THEN 0 ELSE 1 + i % 2 END AS BIGINT)
             AS channels,
           CAST(CASE WHEN bad THEN 0 ELSE 312 + i % 100 END
                AS BIGINT) AS preskip,
           CAST(CASE WHEN bad THEN 0
                WHEN i % 3 = 0 THEN 16000 ELSE 48000 END AS BIGINT)
             AS input_rate,
           CAST(CASE WHEN bad THEN 0
                ELSE total - (312 + i % 100) END AS BIGINT)
             AS duration_samples
    FROM b
    """,
    doc="Ogg/Opus container walk (RFC 3533 + RFC 7845 + RFC 6716 "
    "§3.1) — the dominant open audio container in crawled "
    "speech corpora: page grammar with the RFC's own CRC-32 "
    "(0x04C11DB7, unreflected, init 0, computed from the spec — "
    "matches no stdlib CRC), gapless page sequences, BOS/EOS "
    "placement, granule -1 on continuation-only pages, packet "
    "reassembly across 255-lacing page spans; OpusHead/OpusTags "
    "headers; per-packet ToC frame accounting whose 48 kHz total "
    "must EQUAL the final granule position (the container's own "
    "duration books), playable duration = granule - pre-skip. The "
    "audio payload stays opaque — this is the trust-and-metadata "
    "pass a 100 TB ingest runs BEFORE shipping blobs to a costly "
    "decode stage. Lies: a flipped byte mid-page (CRC refuses), a "
    "granule overstatement (ToC books refuse), a page-sequence gap "
    "(refuses). One Arrow-batched map stage, no shuffle. "
    "operators/ogg.py read_ogg_opus",
    tags=("llm", "multimodal"),
)
def multimodal_ogg_opus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.ogg import (
        ogg_opus_stats,
        synthesize_ogg_media,
    )

    media = synthesize_ogg_media(
        load_table(spark, sf_dir, "documents")
    )
    return ogg_opus_stats(media)


@register(
    "multimodal_webm_clusters",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 3 + doc_id % 5 AS nc
                 FROM documents),
    c AS (SELECT i, nc, unnest(range(0, nc)) AS cc FROM ids),
    b AS (SELECT i, nc, cc,
                 unnest(range(0, 4 + (i + cc) % 6)) AS bb
          FROM c),
    k AS (SELECT i, nc,
                 CASE WHEN (i % 2 = 1 AND bb % 2 = 1)
                        OR bb % 4 = 0 THEN 1 ELSE 0 END AS kf
          FROM b),
    a AS (SELECT i, MAX(nc) AS nc,
                 CAST(COUNT(*) AS BIGINT) AS n_blocks,
                 CAST(SUM(kf) AS BIGINT) AS n_keyframes
          FROM k GROUP BY i),
    d AS (SELECT *,
                 1000 * (nc - 1)
                   + 40 * (4 + (i + nc - 1) % 6 - 1) AS dur,
                 (i % 13 = 0 OR i % 17 = 0 OR i % 19 = 0) AS bad
          FROM a)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'webm' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE 1 + i % 2 END AS BIGINT)
             AS n_tracks,
           CAST(CASE WHEN bad THEN 0 ELSE 320 + 16 * (i % 20) END
                AS BIGINT) AS width,
           CAST(CASE WHEN bad THEN 0 ELSE 240 + 16 * (i % 10) END
                AS BIGINT) AS height,
           CAST(CASE WHEN bad THEN 0 ELSE nc END AS BIGINT)
             AS n_clusters,
           CAST(CASE WHEN bad THEN 0 ELSE n_blocks END AS BIGINT)
             AS n_blocks,
           CAST(CASE WHEN bad THEN 0 ELSE n_keyframes END AS BIGINT)
             AS n_keyframes,
           CAST(CASE WHEN bad THEN 0 ELSE dur END AS BIGINT)
             AS duration_ticks,
           CAST(CASE WHEN bad THEN 0 ELSE 1000000 END AS BIGINT)
             AS timestamp_scale
    FROM d
    """,
    doc="EBML/Matroska (webm) container walk (RFC 8794 + the "
    "Matroska spec) — the video-corpus counterpart to the Ogg walk "
    "(L281): VINT element grammar with exact parent tiling, the "
    "live-muxed UNKNOWN-size Segment running to EOF, DocType gate, "
    "Info's leading CRC-32 element verified over the remainder of "
    "its parent (the Matroska CRC placement rule), TrackEntry walk "
    "(codec ids, video dimensions), Cluster walk with strictly "
    "increasing timestamps, SimpleBlock track references resolved "
    "against declared tracks, keyframe flags counted, and the "
    "declared Duration required to EQUAL the max absolute block "
    "timestamp (the container's duration books). VP9/Opus payloads "
    "stay opaque — the trust-and-metadata pass before a costly "
    "decode stage. Lies: a flipped Info byte under the CRC, a "
    "cluster size that breaks tiling, a Duration overstatement - "
    "all refuse. One Arrow-batched map stage, no shuffle. "
    "operators/ebml.py read_webm",
    tags=("llm", "multimodal"),
)
def multimodal_webm_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.ebml import (
        synthesize_webm_media,
        webm_stats,
    )

    media = synthesize_webm_media(
        load_table(spark, sf_dir, "documents")
    )
    return webm_stats(media)


@register(
    "multimodal_kafka_compacted",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 8 + doc_id % 8 AS nk,
                        6 + doc_id % 6 AS nd
                 FROM documents),
    cl AS (SELECT i, nk, nd, unnest(range(0, nk)) AS k FROM ids),
    clean_rows AS (
        SELECT i, nk, nd, k, 0 AS seq, k AS ord,
               CASE WHEN k % 7 = 3 THEN NULL
                    ELSE (11 * i + 7 * k) % 1000 END AS val
        FROM cl),
    dj AS (SELECT i, nk, nd, unnest(range(0, nd)) AS j FROM ids),
    dirty_rows AS (
        SELECT i, nk, nd, (i + 2 * j) % nk AS k, 1 AS seq,
               j AS ord,
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
        SELECT a.i, MAX(a.nk) AS nk, MAX(a.nd) AS nd,
               CAST(SUM(CASE WHEN a.val IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_tombstones,
               CAST(COALESCE(SUM(CASE WHEN l.rn = 1
                         AND l.val IS NOT NULL THEN 1 END), 0)
                    AS BIGINT) AS live_keys,
               CAST(COALESCE(SUM(CASE WHEN l.rn = 1
                         AND l.val IS NOT NULL THEN l.val END), 0)
                    AS BIGINT) AS value_sum
        FROM allr a
        JOIN latest l
          ON a.i = l.i AND a.k = l.k
         AND a.seq = l.seq AND a.ord = l.ord
        GROUP BY a.i),
    b AS (SELECT *,
                 (i % 13 = 0 OR i % 17 = 0 OR i % 19 = 0) AS bad
          FROM agg)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown'
                ELSE 'kafka-compacted' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE 2 END AS BIGINT)
             AS n_segments,
           CAST(CASE WHEN bad THEN 0 ELSE nk + nd END AS BIGINT)
             AS n_records,
           CAST(CASE WHEN bad THEN 0 ELSE n_tombstones END
                AS BIGINT) AS n_tombstones,
           CAST(CASE WHEN bad THEN 0 ELSE nk END AS BIGINT)
             AS clean_records,
           CAST(CASE WHEN bad THEN 0 ELSE live_keys END AS BIGINT)
             AS live_keys,
           CAST(CASE WHEN bad THEN 0 ELSE value_sum END AS BIGINT)
             AS value_sum
    FROM b
    """,
    doc="Kafka LOG COMPACTION (the cleaner's contract) — reading a "
    "compacted topic's table state from its log directory: the "
    "cleaned section keeps at most ONE record per key at its "
    "ORIGINAL offset (RecordBatch v2 bodies with GAPPED offset "
    "deltas — the dense walk grew a sparse mode that still "
    "requires strict increase), retained tombstones (null value) "
    "mark deletes, the dirty head still holds duplicates, and "
    "state = latest record per key with tombstone-drops — the "
    "reference's dim-upsert semantic (DimSinkFunction.java:28-72) "
    "at the broker's own storage layer. Trust: batch CRC32C, "
    "segment file names vs first base offset, offsets strictly "
    "increasing across segments, the cleaner checkpoint within log "
    "range, keys required on every record, and the compaction "
    "contract itself — a duplicate key below the checkpoint "
    "refuses. Lies: clean-section duplicate key (13th), checkpoint "
    "past the log end (17th), CRC-covered byte flip (19th). One "
    "Arrow-batched map stage, no shuffle. operators/kafkalog.py "
    "read_kafka_compacted",
    tags=("llm", "multimodal"),
)
def multimodal_kafka_compacted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.kafkalog import (
        kafka_compacted_stats,
        synthesize_kafka_compacted_media,
    )

    media = synthesize_kafka_compacted_media(
        load_table(spark, sf_dir, "documents")
    )
    return kafka_compacted_stats(media)


@register(
    "multimodal_arrow_ipc",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 40 + doc_id % 60 AS n
                 FROM documents),
    r AS (SELECT i, n, unnest(range(0, n)) AS rr FROM ids),
    v AS (SELECT i, n,
                 (7 * i + 3 * rr) % 1000 AS kv,
                 CASE WHEN (rr + i) % 6 = 0 THEN NULL
                      ELSE (5 * i + rr) % 100 END AS mv,
                 1 + CASE WHEN (i + rr) % 50 < 10 THEN 1
                          ELSE 2 END AS slen
          FROM r),
    a AS (SELECT i, MAX(n) AS n,
                 CAST(SUM(kv) AS BIGINT) AS k_sum,
                 CAST(COALESCE(SUM(mv), 0) AS BIGINT) AS m_sum,
                 CAST(SUM(CASE WHEN mv IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS null_count,
                 CAST(SUM(slen) AS BIGINT) AS s_len_sum
          FROM v GROUP BY i),
    b AS (SELECT *,
                 (i % 13 = 0 OR i % 17 = 0 OR i % 19 = 0) AS bad
          FROM a)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'arrow' END AS format,
           CAST(CASE WHEN bad THEN 0
                ELSE CAST(CEIL(n / 16.0) AS BIGINT) END AS BIGINT)
             AS n_batches,
           CAST(CASE WHEN bad THEN 0 ELSE n END AS BIGINT)
             AS n_rows,
           CAST(CASE WHEN bad THEN 0 ELSE 3 END AS BIGINT)
             AS n_cols,
           CAST(CASE WHEN bad THEN 0 ELSE null_count END AS BIGINT)
             AS null_count,
           CAST(CASE WHEN bad THEN 0 ELSE k_sum END AS BIGINT)
             AS k_sum,
           CAST(CASE WHEN bad THEN 0 ELSE m_sum END AS BIGINT)
             AS m_sum,
           CAST(CASE WHEN bad THEN 0 ELSE s_len_sum END AS BIGINT)
             AS s_len_sum
    FROM b
    """,
    doc="Arrow IPC file (Feather V2) walk — THE interchange format "
    "of ML data pipelines (HuggingFace datasets, Ray, Polars ship "
    "it) — decoded by a FROM-SPEC flatbuffer reader (~40 lines: "
    "vtables, vectors, strings, unions; no flatbuffers library, no "
    "generated code) over files written by REAL pyarrow. Trust "
    "chain: magic at both ends; every footer Block's offset, "
    "metaDataLength and bodyLength re-proven against the actual "
    "message stream (three independent books over the same "
    "region); the schema stored TWICE (stream + footer) must "
    "agree; per batch each FieldNode spans the batch and the "
    "NULL-COUNT BOOKS hold — node.null_count must equal the zero "
    "bits in the validity bitmap, so a flipped validity bit is "
    "caught arithmetically; EOS marker exactly between last batch "
    "and footer. Int64 sums and Utf8 length sums decode through "
    "ragged sliced-write buffers via the offsets vector. Lies "
    "(surgical patches on real pyarrow bytes): a flipped validity "
    "bit (13th), a footer metaDataLength overstatement (17th), a "
    "corrupted EOS marker (19th) - all refuse. One Arrow-batched "
    "map stage, no shuffle. operators/arrowipc.py read_arrow_ipc",
    tags=("llm", "multimodal"),
)
def multimodal_arrow_ipc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.arrowipc import (
        arrow_ipc_stats,
        synthesize_arrow_media,
    )

    media = synthesize_arrow_media(
        load_table(spark, sf_dir, "documents")
    )
    return arrow_ipc_stats(media)


@register(
    "lakehouse_delta_cdf",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 15 + doc_id % 20 AS n0,
                        4 + doc_id % 5 AS nu, 3 + doc_id % 4 AS nd,
                        CASE WHEN doc_id % 2 = 0
                             THEN 5 + doc_id % 6 ELSE 0 END AS n1
                 FROM documents),
    r0 AS (SELECT i, unnest(range(0, n0)) AS rr FROM ids),
    s0 AS (SELECT i, CAST(SUM((7 * i + 3 * rr) % 1000) AS BIGINT)
                    AS base_sum
           FROM r0 GROUP BY i),
    r1 AS (SELECT i, unnest(range(0, n1)) AS rr FROM ids),
    s1 AS (SELECT i, CAST(SUM((11 * i + 5 * rr) % 1000) AS BIGINT)
                    AS new_sum
           FROM r1 GROUP BY i),
    rd AS (SELECT i, unnest(range(n0 - nd, n0)) AS rr FROM ids),
    sd AS (SELECT i, CAST(SUM((7 * i + 3 * rr) % 1000) AS BIGINT)
                    AS del_sum
           FROM rd GROUP BY i),
    a AS (SELECT ids.i, ids.n0, ids.nu, ids.nd, ids.n1,
                 s0.base_sum, COALESCE(s1.new_sum, 0) AS new_sum,
                 sd.del_sum,
                 (ids.i % 13 = 0 OR ids.i % 17 = 0
                  OR ids.i % 19 = 0) AS bad
          FROM ids
          JOIN s0 ON s0.i = ids.i
          LEFT JOIN s1 ON s1.i = ids.i
          JOIN sd ON sd.i = ids.i)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'delta-cdf' END
             AS format,
           CAST(CASE WHEN bad THEN 0 ELSE 4 - i % 2 END AS BIGINT)
             AS n_versions,
           CAST(CASE WHEN bad THEN 0 ELSE 2 END AS BIGINT)
             AS n_cdc_commits,
           CAST(CASE WHEN bad THEN 0 ELSE n0 + n1 END AS BIGINT)
             AS inserts,
           CAST(CASE WHEN bad THEN 0 ELSE nd END AS BIGINT)
             AS deletes,
           CAST(CASE WHEN bad THEN 0 ELSE nu END AS BIGINT)
             AS updates,
           CAST(CASE WHEN bad THEN 0 ELSE base_sum + new_sum END
                AS BIGINT) AS ins_k_sum,
           CAST(CASE WHEN bad THEN 0 ELSE del_sum END AS BIGINT)
             AS del_k_sum
    FROM a
    """,
    doc="Delta CHANGE DATA FEED (PROTOCOL.md 'Add CDC File') — the "
    "reference's CDC surface (sources/cdc.py, the an3/st14 "
    "Debezium-style envelope) at the TABLE-FORMAT layer: commits "
    "carrying cdc actions read row-level changes from their "
    "_change_data parquet files ONLY (insert / update_preimage / "
    "update_postimage / delete in _change_type, dictionary-decoded "
    "by the hand RLE-hybrid walk); commits without cdc derive "
    "inserts from dataChange adds and deletes from dataChange "
    "removes (whose files must still exist — a vacuumed feed is "
    "unreadable, not silently empty). Gates: protocol version, the "
    "delta.enableChangeDataFeed flag. Books: every referenced file "
    "exists at its claimed size; unknown change types refuse; per "
    "commit every update_preimage needs its update_postimage — "
    "EQUAL counts or the feed lies about what changed. Lies: a "
    "dropped postimage row (13th), a cdc size lie (17th), an "
    "unknown _change_type (19th). One Arrow-batched map stage, no "
    "shuffle. operators/deltalog.py read_delta_cdf",
    tags=("llm", "lakehouse", "multimodal"),
)
def lakehouse_delta_cdf(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.deltalog import (
        delta_cdf_stats,
        synthesize_delta_cdf_media,
    )

    media = synthesize_delta_cdf_media(
        load_table(spark, sf_dir, "documents")
    )
    return delta_cdf_stats(media)


@register(
    "multimodal_zstd_seekable",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 3 + doc_id % 4 AS nf
                 FROM documents),
    c AS (SELECT i, nf, unnest(range(0, nf)) AS cc FROM ids),
    l AS (SELECT i, nf, cc, 200 + 37 * ((i + cc) % 5) AS ln FROM c),
    cum AS (SELECT i, nf, cc, ln,
                 COALESCE(SUM(ln) OVER (
                     PARTITION BY i ORDER BY cc
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS cumlo
            FROM l),
    tot AS (SELECT i, CAST(SUM(ln) AS BIGINT) AS total
            FROM l GROUP BY i),
    tf AS (SELECT cum.i, cum.nf, cum.cc, cum.ln, cum.cumlo,
                  tot.total,
                  (31 * cum.i) % tot.total AS target
           FROM cum JOIN tot ON tot.i = cum.i
           WHERE (31 * cum.i) % tot.total >= cum.cumlo
             AND (31 * cum.i) % tot.total < cum.cumlo + cum.ln),
    jv AS (SELECT *, target - cumlo AS j,
                  LEAST(target - cumlo, ln - 16) AS jw FROM tf),
    w AS (SELECT i, cc, jw, unnest(range(0, 16)) AS t FROM jv),
    ws AS (SELECT i,
                  CAST(SUM((5 * i + 7 * cc + 3 * (jw + t)) % 251)
                       AS BIGINT) AS window_sum
           FROM w GROUP BY i),
    fin AS (SELECT jv.i, jv.nf, jv.total, jv.cc,
                   (5 * jv.i + 7 * jv.cc + 3 * jv.j) % 251 AS b,
                   ws.window_sum,
                   (jv.i % 13 = 0 OR jv.i % 17 = 0
                    OR jv.i % 19 = 0) AS bad
            FROM jv JOIN ws ON ws.i = jv.i)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown'
                ELSE 'zstd-seekable' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE nf END AS BIGINT)
             AS n_frames,
           CAST(CASE WHEN bad THEN 0 ELSE total END AS BIGINT)
             AS total_decompressed,
           CAST(CASE WHEN bad THEN 0 ELSE cc END AS BIGINT)
             AS target_frame,
           CAST(CASE WHEN bad THEN 0 ELSE b END AS BIGINT)
             AS byte_at_target,
           CAST(CASE WHEN bad THEN 0 ELSE window_sum END AS BIGINT)
             AS window_sum
    FROM fin
    """,
    doc="Zstd SEEKABLE format (zstd contrib "
    "zstd_seekable_compression_format.md) — random access into "
    "compressed streams, the scale path for 100 TB of compressed "
    "blobs: the seek-table skippable frame (magic 0x184D2A5E, "
    "9-byte footer with 0x8F92EAB1) maps frame boundaries, so an "
    "executor reads ONE table entry + ONE frame for any byte range "
    "— never the stream prefix. The target frame decodes through "
    "the from-scratch FSE/Huffman decoder, its length must equal "
    "the entry's Decompressed_Size and its xxh64-low-32 checksum "
    "must hold; entries must TILE the data area exactly. A "
    "corrupted NON-target frame stays invisible — pinned in tests "
    "as the random-access proof. Frames written by the reference "
    "encoder (libzstd via pyarrow). Lies: a checksum flip on the "
    "target entry (13th), a Compressed_Size tiling lie (17th), a "
    "flipped seekable magic (19th). One Arrow-batched map stage, "
    "no shuffle. operators/zstd.py read_zstd_seekable",
    tags=("llm", "multimodal"),
)
def multimodal_zstd_seekable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.zstd import (
        synthesize_zstd_seekable_media,
        zstd_seekable_stats,
    )

    media = synthesize_zstd_seekable_media(
        load_table(spark, sf_dir, "documents")
    )
    return zstd_seekable_stats(media)


@register(
    "multimodal_arrow_dict",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 30 + doc_id % 50 AS n,
                        3 + doc_id % 5 AS nc
                 FROM documents),
    r AS (SELECT i, n, nc, unnest(range(0, n)) AS rr FROM ids),
    a AS (SELECT i, MAX(n) AS n, MAX(nc) AS nc,
                 CAST(SUM((7 * i + 3 * rr) % 1000) AS BIGINT)
                   AS k_sum,
                 CAST(SUM(rr % nc) AS BIGINT) AS code_sum
          FROM r GROUP BY i),
    b AS (SELECT *,
                 (i % 13 = 0 OR i % 17 = 0 OR i % 19 = 0) AS bad
          FROM a)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown'
                ELSE 'arrow-dict' END AS format,
           CAST(CASE WHEN bad THEN 0
                ELSE CAST(CEIL(n / 16.0) AS BIGINT) END AS BIGINT)
             AS n_batches,
           CAST(CASE WHEN bad THEN 0 ELSE n END AS BIGINT)
             AS n_rows,
           CAST(CASE WHEN bad THEN 0 ELSE nc END AS BIGINT)
             AS dict_size,
           CAST(CASE WHEN bad THEN 0 ELSE k_sum END AS BIGINT)
             AS k_sum,
           CAST(CASE WHEN bad THEN 0 ELSE code_sum END AS BIGINT)
             AS code_sum,
           CAST(CASE WHEN bad THEN 0 ELSE 4 * n END AS BIGINT)
             AS cat_len_sum
    FROM b
    """,
    doc="Arrow IPC DICTIONARY-ENCODED columns (Columnar.md "
    "'Dictionary Messages') — how real Arrow corpora ship "
    "categorical text: the schema's DictionaryEncoding (id, int32 "
    "signed indices), DictionaryBatch messages resolved from the "
    "footer's dictionaries blocks (each id delivered exactly once "
    "before use, isDelta refused, same offset/metaDataLength/"
    "bodyLength books as record batches), then record batches "
    "carrying INDEX arrays bounds-checked against the dictionary "
    "length — an index past the dictionary is lying about its "
    "values. Dictionary utf8 offsets must be monotonic. Values "
    "resolve through the dictionary: per-row category lengths and "
    "codes are re-proven against the closed form. Lies (surgical "
    "patches on real pyarrow bytes): an out-of-bounds index "
    "(13th), a dictionary-block metaDataLength lie (17th), "
    "non-monotonic dictionary offsets (19th) - all refuse. One "
    "Arrow-batched map stage, no shuffle. operators/arrowipc.py "
    "read_arrow_dict",
    tags=("llm", "multimodal"),
)
def multimodal_arrow_dict(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.arrowipc import (
        arrow_dict_stats,
        synthesize_arrow_dict_media,
    )

    media = synthesize_arrow_dict_media(
        load_table(spark, sf_dir, "documents")
    )
    return arrow_dict_stats(media)


@register(
    "multimodal_bgzf_seek",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 3 + doc_id % 5 AS nb
                 FROM documents),
    c AS (SELECT i, nb, unnest(range(0, nb)) AS cc FROM ids),
    l AS (SELECT i, nb, cc, 150 + 23 * ((i + cc) % 6) AS ln FROM c),
    cum AS (SELECT i, nb, cc, ln,
                 COALESCE(SUM(ln) OVER (
                     PARTITION BY i ORDER BY cc
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS cumlo
            FROM l),
    tot AS (SELECT i, CAST(SUM(ln) AS BIGINT) AS total
            FROM l GROUP BY i),
    tf AS (SELECT cum.i, cum.nb, cum.cc, cum.ln, cum.cumlo,
                  tot.total, (31 * cum.i) % tot.total AS target
           FROM cum JOIN tot ON tot.i = cum.i
           WHERE (31 * cum.i) % tot.total >= cum.cumlo
             AND (31 * cum.i) % tot.total < cum.cumlo + cum.ln),
    jv AS (SELECT *, target - cumlo AS j,
                  LEAST(target - cumlo, ln - 16) AS jw FROM tf),
    w AS (SELECT i, cc, jw, unnest(range(0, 16)) AS t FROM jv),
    ws AS (SELECT i,
                  CAST(SUM((3 * i + 5 * cc + 7 * (jw + t)) % 251)
                       AS BIGINT) AS window_sum
           FROM w GROUP BY i),
    fin AS (SELECT jv.i, jv.nb, jv.total, jv.cc, jv.j,
                   (3 * jv.i + 5 * jv.cc + 7 * jv.j) % 251 AS b,
                   ws.window_sum,
                   (jv.i % 13 = 0 OR jv.i % 17 = 0
                    OR jv.i % 19 = 0) AS bad
            FROM jv JOIN ws ON ws.i = jv.i)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'bgzf' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE nb END AS BIGINT)
             AS n_blocks,
           CAST(CASE WHEN bad THEN 0 ELSE total END AS BIGINT)
             AS total_uncompressed,
           CAST(CASE WHEN bad THEN 0 ELSE cc END AS BIGINT)
             AS target_block,
           CAST(CASE WHEN bad THEN 0 ELSE j END AS BIGINT)
             AS in_block_offset,
           CAST(CASE WHEN bad THEN 0 ELSE b END AS BIGINT)
             AS byte_at_target,
           CAST(CASE WHEN bad THEN 0 ELSE window_sum END AS BIGINT)
             AS window_sum
    FROM fin
    """,
    doc="BGZF — blocked gzip (SAM/BAM spec §4.1; bgzip'd VCF/FASTA "
    "and tabix ride it) — the random-access gzip variant: every "
    "member's FEXTRA carries the BC subfield with BSIZE, so any "
    "uncompressed offset maps to a block by scanning headers/"
    "trailers ONLY; exactly one block is inflated (the repo's own "
    "RFC 1951 decoder) and its CRC32 + ISIZE trailer verified — "
    "seek without decompressing the prefix, the 100 TB property. "
    "The mandatory 28-byte EOF marker must terminate the file. A "
    "corrupted NON-target block is provably invisible (pinned). "
    "Lies: a deflate-byte flip inside the target block (13th), a "
    "dropped EOF marker (17th), a CRC32 flip on the target (19th) "
    "- all refuse; an ISIZE lie on a block the access never "
    "inflates is documented as legitimately invisible, which is "
    "exactly why the per-block CRC matters. One Arrow-batched map "
    "stage, no shuffle. operators/bgzf.py read_bgzf",
    tags=("llm", "multimodal"),
)
def multimodal_bgzf_seek(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.bgzf import (
        bgzf_stats,
        synthesize_bgzf_media,
    )

    media = synthesize_bgzf_media(
        load_table(spark, sf_dir, "documents")
    )
    return bgzf_stats(media)


@register(
    "multimodal_npz_embeddings",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 10 + doc_id % 20 AS n,
                        8 + doc_id % 8 AS d
                 FROM documents),
    rc AS (SELECT i, n, d, unnest(range(0, n)) AS rr FROM ids),
    rcc AS (SELECT i, n, d, rr, unnest(range(0, d)) AS cc FROM rc),
    e AS (SELECT i, n, d,
                 (3 * i + 5 * rr + 7 * cc) % 1001 - 500 AS ev,
                 rr
          FROM rcc),
    a AS (SELECT i, MAX(n) AS n, MAX(d) AS d,
                 CAST(SUM(ev) AS BIGINT) AS emb_sum,
                 CAST(SUM(CASE WHEN rr = 0 THEN ev ELSE 0 END)
                      AS BIGINT) AS emb_row0_sum
          FROM e GROUP BY i),
    r2 AS (SELECT i, unnest(range(0, n)) AS rr FROM ids),
    s2 AS (SELECT i, CAST(SUM((11 * i + 13 * rr) % 100000)
                          AS BIGINT) AS ids_sum
           FROM r2 GROUP BY i),
    b AS (SELECT a.*, s2.ids_sum,
                 (a.i % 13 = 0 OR a.i % 17 = 0 OR a.i % 19 = 0)
                   AS bad
          FROM a JOIN s2 ON s2.i = a.i)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'npz' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE 2 END AS BIGINT)
             AS n_arrays,
           CAST(CASE WHEN bad THEN 0 ELSE n END AS BIGINT)
             AS emb_rows,
           CAST(CASE WHEN bad THEN 0 ELSE d END AS BIGINT)
             AS emb_cols,
           CAST(CASE WHEN bad THEN 0 ELSE emb_sum END AS BIGINT)
             AS emb_sum,
           CAST(CASE WHEN bad THEN 0 ELSE emb_row0_sum END
                AS BIGINT) AS emb_row0_sum,
           CAST(CASE WHEN bad THEN 0 ELSE ids_sum END AS BIGINT)
             AS ids_sum
    FROM b
    """,
    doc="NPY/NPZ — numpy's array serialization, the de-facto "
    "embedding-dump format (faiss training sets, "
    "sentence-transformer caches): STORED-zip members with CRC32 "
    "proof (the L277 ZIP grammar), then the NEP header walk — "
    "magic/version, the ASCII dict header with exactly the three "
    "spec keys, 64-byte alignment and newline termination, descr "
    "gated to little-endian f8/i8, and the SHAPE-TIMES-ITEMSIZE "
    "books (declared shape must equal the byte length exactly — a "
    "shape lie cannot hide). Odd ids store emb in FORTRAN order; "
    "the first-row sum is the order-SENSITIVE proof that striding "
    "decodes correctly (a C-order misread scrambles it while the "
    "total sum would not notice). Lies patched into the NPY bytes "
    "before zipping (zip CRCs stay true — only the NPY books can "
    "refuse): a shape overstatement (13th), big-endian descr "
    "(17th), a clobbered header newline (19th). One Arrow-batched "
    "map stage, no shuffle. operators/npz.py read_npz_embeddings",
    tags=("llm", "multimodal"),
)
def multimodal_npz_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.npz import (
        npz_stats,
        synthesize_npz_media,
    )

    media = synthesize_npz_media(
        load_table(spark, sf_dir, "documents")
    )
    return npz_stats(media)


@register(
    "multimodal_git_pack",
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
    d AS (SELECT i,
                 CAST(SUM(CASE WHEN bb % 3 = 2 THEN 1
                          WHEN bb % 7 = 6 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_deltas
          FROM b GROUP BY i),
    a AS (SELECT ids.i, ids.nb, ids.nc, s.byte_sum, s.blob_bytes,
                 d.n_deltas,
                 (ids.i % 13 = 0 OR ids.i % 17 = 0
                  OR ids.i % 19 = 0) AS bad
          FROM ids JOIN s ON s.i = ids.i JOIN d ON d.i = ids.i)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'git-pack' END
             AS format,
           CAST(CASE WHEN bad THEN 0 ELSE nb + 2 * nc END
                AS BIGINT) AS n_objects,
           CAST(CASE WHEN bad THEN 0 ELSE nb END AS BIGINT)
             AS n_blobs,
           CAST(CASE WHEN bad THEN 0 ELSE nc END AS BIGINT)
             AS n_trees,
           CAST(CASE WHEN bad THEN 0 ELSE nc END AS BIGINT)
             AS n_commits,
           CAST(CASE WHEN bad THEN 0 ELSE n_deltas END AS BIGINT)
             AS n_deltas,
           CAST(CASE WHEN bad THEN 0 ELSE blob_bytes END AS BIGINT)
             AS blob_bytes,
           CAST(CASE WHEN bad THEN 0 ELSE byte_sum END AS BIGINT)
             AS blob_byte_sum
    FROM a
    """,
    doc="Git PACKFILE + pack-index walk (gitformat-pack(5)) — how "
    "code corpora actually arrive: a clone IS a pack, and "
    "The-Stack-style source ingest reads packs, not checkouts. "
    "Full grammar from the public spec: varint object headers, "
    "per-object zlib through the repo's own RFC 1950/1951 inflate "
    "(Adler-32 + declared-size books), OFS_DELTA with the +1-bias "
    "offset varint and REF_DELTA resolution with copy/insert "
    "commands (base/result-size books), object identity RECOMPUTED "
    "as sha1('<type> <len>\\\\0'+content) and matched against the "
    "idx's sorted unique ids; idx v2 fanout monotonicity, "
    "per-object CRC32 of the PACKED bytes, offsets landing exactly "
    "on objects, the pack trailer SHA-1 and the idx's own trailing "
    "SHA-1; semantic layer: commits reference in-pack trees and "
    "parents, trees list git-sorted entries resolving to in-pack "
    "blobs. REAL git verify-pack accepts the fixture (pinned). "
    "Lies: an idx CRC32 flip (13th), a pack-trailer flip (17th), a "
    "delta base-size overstatement (19th) - all refuse. One "
    "Arrow-batched map stage, no shuffle; at 100 TB the pack+idx "
    "pair is the unit of parallelism. operators/gitpack.py "
    "read_git_pack",
    tags=("llm", "multimodal"),
)
def multimodal_git_pack(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.gitpack import (
        git_pack_stats,
        synthesize_git_pack_media,
    )

    media = synthesize_git_pack_media(
        load_table(spark, sf_dir, "documents")
    )
    return git_pack_stats(media)


@register(
    "multimodal_sstable_kv",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 40 + doc_id % 40 AS nk
                 FROM documents),
    r AS (SELECT i, nk, unnest(range(0, nk)) AS rr FROM ids),
    v AS (SELECT i, nk, rr,
                 unnest(range(0, 10 + (i + rr) % 15)) AS jj
          FROM r),
    s AS (SELECT i,
                 CAST(SUM((5 * i + 3 * rr + jj) % 251) AS BIGINT)
                   AS val_sum
          FROM v GROUP BY i),
    a AS (SELECT ids.i, ids.nk, s.val_sum,
                 CAST(CEIL(ids.nk / 8.0) AS BIGINT) AS nb,
                 (ids.i % 13 = 0 OR ids.i % 17 = 0
                  OR ids.i % 19 = 0) AS bad
          FROM ids JOIN s ON s.i = ids.i)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'sstable' END
             AS format,
           CAST(CASE WHEN bad THEN 0 ELSE nb END AS BIGINT)
             AS n_blocks,
           CAST(CASE WHEN bad THEN 0 ELSE nk END AS BIGINT)
             AS n_entries,
           CAST(CASE WHEN bad THEN 0 ELSE 6 * nk END AS BIGINT)
             AS key_bytes,
           CAST(CASE WHEN bad THEN 0 ELSE val_sum END AS BIGINT)
             AS val_byte_sum,
           CAST(CASE WHEN bad THEN 0
                ELSE 2 * (nb - 1)
                     + CAST(CEIL((nk - 8 * (nb - 1)) / 4.0)
                            AS BIGINT)
                END AS BIGINT) AS n_restarts
    FROM a
    """,
    doc="LevelDB/RocksDB SSTable (BlockBasedTable) walk — the "
    "KV-store file behind embedded state stores, read directly for "
    "KV-snapshot ingest (one executor per table at 100 TB): footer "
    "magic + varint BlockHandles; every block's MASKED CRC32C "
    "(leveldb's exact (c>>15|c<<17)+0xa282ead8 masking over "
    "content+type byte, on the repo's own CRC32C table) with "
    "alternating raw/snappy blocks through the hand snappy "
    "decoder; prefix-compressed entries re-anchored at restart "
    "points (shared=0 books), exact entry-region consumption, "
    "STRICT global key order (the binary-search invariant), index "
    "separators bounding their blocks, data blocks tiling the file "
    "up to the metaindex. The reference keeps dim state in "
    "HBase/Redis (func/DimSinkFunction.java) — this is that "
    "KV-snapshot surface at open-format level. Lies: a stored-CRC "
    "flip (13th), a restart-count overstatement (17th), a key-order "
    "swap (19th) - all refuse. One Arrow-batched map stage, no "
    "shuffle. operators/sstable.py read_sstable",
    tags=("llm", "multimodal"),
)
def multimodal_sstable_kv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.sstable import (
        sstable_stats,
        synthesize_sstable_media,
    )

    media = synthesize_sstable_media(
        load_table(spark, sf_dir, "documents")
    )
    return sstable_stats(media)


@register(
    "lakehouse_iceberg_refs",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 2 + doc_id % 3 AS ns,
                        1 + doc_id % 2 AS nt
                 FROM documents),
    s AS (SELECT i, ns, nt, unnest(range(0, ns)) AS ss FROM ids),
    f AS (SELECT i, ns, nt, ss,
                 unnest(range(0, 2 + (i + ss) % 3)) AS ff
          FROM s),
    sr AS (SELECT i, ns, nt, ss,
                  CAST(SUM(10 + (i + 3 * ss + ff) % 20) AS BIGINT)
                    AS rows_s
           FROM f GROUP BY i, ns, nt, ss),
    a AS (SELECT i, MAX(ns) AS ns, MAX(nt) AS nt,
                 CAST(SUM(CASE WHEN ss = ns - 1 THEN rows_s
                          ELSE 0 END) AS BIGINT) AS main_rows,
                 CAST(SUM(CASE WHEN ss = ns - 2 THEN rows_s
                          ELSE 0 END) AS BIGINT) AS dev_rows,
                 CAST(SUM(CASE WHEN ss < nt THEN rows_s
                          ELSE 0 END) AS BIGINT) AS tags_rows_sum
          FROM sr GROUP BY i),
    b AS (SELECT *,
                 (i % 13 = 0 OR i % 17 = 0 OR i % 19 = 0) AS bad
          FROM a)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'iceberg' END
             AS format,
           CAST(CASE WHEN bad THEN 0 ELSE 2 + nt END AS BIGINT)
             AS n_refs,
           CAST(CASE WHEN bad THEN 0 ELSE 2 END AS BIGINT)
             AS n_branches,
           CAST(CASE WHEN bad THEN 0 ELSE nt END AS BIGINT)
             AS n_tags,
           CAST(CASE WHEN bad THEN 0 ELSE main_rows END AS BIGINT)
             AS main_rows,
           CAST(CASE WHEN bad THEN 0 ELSE dev_rows END AS BIGINT)
             AS dev_rows,
           CAST(CASE WHEN bad THEN 0 ELSE tags_rows_sum END
                AS BIGINT) AS tags_rows_sum
    FROM b
    """,
    doc="Iceberg NAMED REFERENCES (spec table-metadata 'refs') — "
    "the branching/tagging layer real warehouses use to pin eval "
    "sets while main keeps moving: a ref map of name -> "
    "{snapshot-id, type, retention}. 'main' must exist as a branch "
    "AND equal current-snapshot-id (the spec keeps them in "
    "lockstep — disagreement is corruption); retention knobs are "
    "type-gated (min-snapshots-to-keep / max-snapshot-age-ms are "
    "branch-only; a tag carrying them is malformed); every ref "
    "resolves to a declared snapshot whose manifest walk runs the "
    "full trust chain (manifest_length books, per-status counts). "
    "Completes the time-travel story next to VERSION-AS-OF and "
    "TIMESTAMP-AS-OF: resolution by NAME. Lies: main at a "
    "non-current snapshot (13th), a tag with a branch-only knob "
    "(17th), a ghost snapshot-id (19th) - all refuse. One "
    "Arrow-batched map stage, no shuffle. operators/iceberg.py "
    "read_iceberg_refs",
    tags=("llm", "lakehouse", "multimodal"),
)
def lakehouse_iceberg_refs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.iceberg import (
        iceberg_refs_stats,
        synthesize_iceberg_refs_media,
    )

    media = synthesize_iceberg_refs_media(
        load_table(spark, sf_dir, "documents")
    )
    return iceberg_refs_stats(media)


@register(
    "multimodal_bson_dump",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 8 + doc_id % 12 AS nd
                 FROM documents),
    d AS (SELECT i, nd, unnest(range(0, nd)) AS dd FROM ids),
    na AS (SELECT i, nd, dd, 2 + (i + dd) % 3 AS n_arr FROM d),
    aj AS (SELECT i, dd, unnest(range(0, n_arr)) AS jj FROM na),
    arr AS (SELECT i, CAST(SUM(10 * dd + jj) AS BIGINT) AS arr_sum,
                   CAST(COUNT(*) AS BIGINT) AS arr_vals
            FROM aj GROUP BY i),
    per AS (SELECT i, MAX(nd) AS nd,
                 CAST(SUM((7 * i + 13 * dd) % 100000 - 50000)
                      AS BIGINT) AS n_sum,
                 CAST(SUM((3 * i + dd) % 1000) AS BIGINT)
                   AS inner_sum,
                 CAST(SUM((11 * i + 5 * dd) % 2001 - 1000)
                      AS BIGINT) AS dbl_sum,
                 CAST(SUM(5 + (i + dd) % 12) AS BIGINT)
                   AS str_bytes,
                 CAST(SUM(dd % 2) AS BIGINT) AS n_true
          FROM d GROUP BY i),
    a AS (SELECT per.*, arr.arr_sum, arr.arr_vals,
                 (per.i % 13 = 0 OR per.i % 17 = 0
                  OR per.i % 19 = 0) AS bad
          FROM per JOIN arr ON arr.i = per.i)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'bson' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE nd END AS BIGINT)
             AS n_top_docs,
           CAST(CASE WHEN bad THEN 0 ELSE nd END AS BIGINT)
             AS n_docs,
           CAST(CASE WHEN bad THEN 0 ELSE nd END AS BIGINT)
             AS n_arrays,
           CAST(CASE WHEN bad THEN 0 ELSE 6 * nd + arr_vals END
                AS BIGINT) AS n_values,
           CAST(CASE WHEN bad THEN 0
                ELSE n_sum + inner_sum + arr_sum END AS BIGINT)
             AS int_sum,
           CAST(CASE WHEN bad THEN 0 ELSE dbl_sum END AS BIGINT)
             AS dbl_sum,
           CAST(CASE WHEN bad THEN 0 ELSE str_bytes END AS BIGINT)
             AS str_bytes,
           CAST(CASE WHEN bad THEN 0 ELSE n_true END AS BIGINT)
             AS n_true
    FROM a
    """,
    doc="BSON dump walk (bsonspec.org v1.1) — what a mongodump "
    "actually is: back-to-back documents, each "
    "[int32 len][elements][NUL], with the LENGTH BOOKS at every "
    "level: a document's elements must consume exactly len-5 bytes "
    "(a length lie cannot hide — the next document's prefix lands "
    "mid-element), strings carry their own int32+NUL redundancy "
    "(the classic BSON double-accounting, verified), arrays are "
    "documents whose keys MUST be '0','1',... in order (the "
    "spec's array rule, enforced), embedded documents recurse "
    "with their own books, integral doubles summed exactly, "
    "unknown element types refuse. The reference's dim/config "
    "enrichment surface arriving as Mongo exports. Lies: a "
    "document length overstatement (13th), a clobbered string NUL "
    "(17th), an out-of-sequence array key (19th) - all refuse. "
    "One Arrow-batched map stage, no shuffle. operators/bson.py "
    "read_bson_dump",
    tags=("llm", "multimodal"),
)
def multimodal_bson_dump(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.bson import (
        bson_stats,
        synthesize_bson_media,
    )

    media = synthesize_bson_media(
        load_table(spark, sf_dir, "documents")
    )
    return bson_stats(media)


@register(
    "multimodal_hbase_hfile",
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
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'hfile' END AS format,
           CAST(CASE WHEN bad THEN 0
                ELSE CAST(CEIL(nr / 8.0) AS BIGINT) END AS BIGINT)
             AS n_data_blocks,
           CAST(CASE WHEN bad THEN 0 ELSE nr END AS BIGINT)
             AS n_cells,
           CAST(CASE WHEN bad THEN 0 ELSE 6 * nr END AS BIGINT)
             AS row_bytes,
           CAST(CASE WHEN bad THEN 0 ELSE val_sum END AS BIGINT)
             AS value_byte_sum,
           CAST(CASE WHEN bad THEN 0 ELSE 8 END AS BIGINT)
             AS max_block_cells
    FROM a
    """,
    doc="HBase HFile v2 walk — the on-disk format behind the "
    "REFERENCE'S OWN dim store (DimSinkFunction.java:28-72 upserts "
    "dimensions into HBase via Phoenix; the region server persists "
    "HFiles, and bulk export/snapshot ingest reads them directly): "
    "33-byte block headers (DATABLK*/IDXROOT2/FILEINF2 magics, "
    "prevBlockOffset backward chain), HBase's CHUNKED checksum "
    "scheme (one big-endian CRC32C per bytesPerChecksum chunk over "
    "header+payload, verified chunk by chunk on the repo's own "
    "table), KeyValue cells (rowLen/family/qualifier/timestamp/"
    "type) in the comparator order every read path assumes — "
    "(row,fam,qual) asc, timestamp DESC, Put type; the single-level "
    "root index must name each block's true offset, on-disk size "
    "and exact first key; the 212-byte trailer's fileInfo/"
    "loadOnOpen/first/last/entryCount books all re-proven, version "
    "int (minor<<24)|major gated to v2-with-checksums. Lies: a "
    "value-byte flip under a checksum chunk (13th), a root-index "
    "offset off by one (17th), a trailer entryCount overstatement "
    "(19th) - all refuse. One Arrow-batched map stage, no shuffle. "
    "operators/hfile.py read_hfile",
    tags=("llm", "multimodal"),
)
def multimodal_hbase_hfile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.hfile import (
        hfile_stats,
        synthesize_hfile_media,
    )

    media = synthesize_hfile_media(
        load_table(spark, sf_dir, "documents")
    )
    return hfile_stats(media)


@register(
    "multimodal_leveldb_wal",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 30 + doc_id % 30 AS nw,
                        (30 + doc_id % 30) // 2 + 5 AS m,
                        doc_id % 5 AS w0
                 FROM documents),
    w AS (SELECT i, nw, m, w0, unnest(range(0, nw)) AS ww FROM ids),
    plain AS (SELECT i, nw, m, w0, ww,
                   (ww * 7) % m AS kidx,
                   ((ww + i) % 7 = 6) AS is_del
            FROM w WHERE ww != w0),
    vj AS (SELECT i, ww, unnest(range(0, 20 + (i + ww) % 40)) AS jj
           FROM plain WHERE NOT is_del),
    vs AS (SELECT i, ww,
                  CAST(SUM((11 * i + 3 * ww + jj) % 251) AS BIGINT)
                    AS vsum
           FROM vj GROUP BY i, ww),
    latest AS (SELECT p.*, ROW_NUMBER() OVER (
                   PARTITION BY p.i, p.kidx ORDER BY p.ww DESC)
                   AS rn
               FROM plain p),
    liv AS (SELECT l.i,
                   CAST(COALESCE(SUM(CASE WHEN l.rn = 1
                            AND NOT l.is_del THEN 1 END), 0)
                        AS BIGINT) AS live_n,
                   CAST(COALESCE(SUM(CASE WHEN l.rn = 1
                            AND NOT l.is_del THEN vs.vsum END), 0)
                        AS BIGINT) AS live_sum
            FROM latest l
            LEFT JOIN vs ON vs.i = l.i AND vs.ww = l.ww
            GROUP BY l.i),
    dels AS (SELECT i, CAST(SUM(CASE WHEN is_del THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_del
             FROM plain GROUP BY i),
    jj AS (SELECT i, w0, unnest(range(0, 40000)) AS t FROM ids),
    jumbo AS (SELECT i,
                   CAST(SUM((11 * i + 3 * w0 + t) % 251) AS BIGINT)
                     AS jsum
              FROM jj GROUP BY i),
    a AS (SELECT ids.i, ids.nw, liv.live_n, liv.live_sum,
                 dels.n_del, jumbo.jsum,
                 (ids.i % 13 = 0 OR ids.i % 17 = 0
                  OR ids.i % 19 = 0) AS bad
          FROM ids
          JOIN liv ON liv.i = ids.i
          JOIN dels ON dels.i = ids.i
          JOIN jumbo ON jumbo.i = ids.i)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown'
                ELSE 'leveldb-wal' END AS format,
           CAST(CASE WHEN bad THEN 0 ELSE nw END AS BIGINT)
             AS n_records,
           CAST(CASE WHEN bad THEN 0 ELSE n_del END AS BIGINT)
             AS n_deletes,
           CAST(CASE WHEN bad THEN 0 ELSE live_n + 2 END AS BIGINT)
             AS live_keys,
           CAST(CASE WHEN bad THEN 0 ELSE live_sum + jsum END
                AS BIGINT) AS value_byte_sum
    FROM a
    """,
    doc="LevelDB/RocksDB WRITE-AHEAD LOG replay (log_format.md) — "
    "the other half of the KV store next to the SSTable walk "
    "(L292): every write hits the log first, and replaying logs "
    "recovers the unflushed tail of a KV snapshot. Fixed 32 KiB "
    "blocks of fragments [masked crc32c][len u16][type][payload]; "
    "the CRC covers type+payload with the table's exact masking; a "
    "fragment never crosses a block (tails are zero-padded, junk "
    "in the padding refuses); records reassemble through the "
    "FULL / FIRST / MIDDLE / LAST state machine (orphan MIDDLE/"
    "LAST or an unterminated FIRST at EOF refuse) — a jumbo "
    "record spans a block boundary in every fixture. Replayed "
    "payloads are length-prefixed KV upserts with tombstones; "
    "final state is latest-wins (the dim-upsert semantic, third "
    "appearance after the compacted topic and Hudi MOR). Lies: a "
    "CRC-field flip (13th), a LAST re-typed as MIDDLE re-CRC'd so "
    "only the state machine catches it (17th), junk in block-tail "
    "padding (19th) - all refuse. One Arrow-batched map stage, no "
    "shuffle. operators/sstable.py read_leveldb_wal",
    tags=("llm", "multimodal"),
)
def multimodal_leveldb_wal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.sstable import (
        leveldb_wal_stats,
        synthesize_wal_media,
    )

    media = synthesize_wal_media(
        load_table(spark, sf_dir, "documents")
    )
    return leveldb_wal_stats(media)


@register(
    "multimodal_msgpack_rows",
    oracle="""
    WITH ids AS (SELECT doc_id AS i, 10 + doc_id % 15 AS nr
                 FROM documents),
    r AS (SELECT i, nr, unnest(range(0, nr)) AS rr FROM ids),
    v AS (SELECT i, nr, rr,
                 (1000 * i + 37 * rr) % 3000000000 AS idv,
                 -((13 * i + 7 * rr) % 40000) AS score,
                 10 + (i + rr) % 40 AS namelen,
                 1 + (i + rr) % 4 AS nt,
                 (3 * i + rr) % 100 AS mv
          FROM r),
    a AS (SELECT i, MAX(nr) AS nr,
                 CAST(SUM(idv + score + mv
                          + nt * (nt - 1) // 2) AS BIGINT)
                   AS int_sum,
                 CAST(SUM(26 + namelen) AS BIGINT) AS str_bytes,
                 CAST(SUM(14 + nt) AS BIGINT) AS n_values,
                 CAST(SUM(CASE WHEN rr % 2 = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_true
          FROM v GROUP BY i),
    b AS (SELECT *,
                 (i % 13 = 0 OR i % 17 = 0 OR i % 19 = 0) AS bad
          FROM a)
    SELECT i AS media_id,
           CASE WHEN bad THEN 'unknown' ELSE 'msgpack' END
             AS format,
           CAST(CASE WHEN bad THEN 0 ELSE nr END AS BIGINT)
             AS n_objects,
           CAST(CASE WHEN bad THEN 0 ELSE 2 * nr END AS BIGINT)
             AS n_maps,
           CAST(CASE WHEN bad THEN 0 ELSE nr END AS BIGINT)
             AS n_arrays,
           CAST(CASE WHEN bad THEN 0 ELSE n_values END AS BIGINT)
             AS n_values,
           CAST(CASE WHEN bad THEN 0 ELSE int_sum END AS BIGINT)
             AS int_sum,
           CAST(CASE WHEN bad THEN 0 ELSE str_bytes END AS BIGINT)
             AS str_bytes,
           CAST(CASE WHEN bad THEN 0 ELSE n_true END AS BIGINT)
             AS n_true
    FROM b
    """,
    doc="MessagePack stream walk with CANONICAL-encoding "
    "enforcement (msgpack spec) — the compact serialization "
    "feature caches and RPC layers ship: full grammar (fixint/"
    "fixmap/fixarray/fixstr, nil/bool, bin/str/array/map 8-32, "
    "int/uint 8-64; the never-used 0xc1 refuses instantly) PLUS "
    "the minimality rule content-addressed systems make mandatory "
    "— a uint16 carrying 7 re-serializes differently and breaks "
    "hashes, so every non-minimal int, str, bin, array or map "
    "header refuses. Values exercise uint32 ids, negative "
    "fixint..int16 scores, the fixstr/str8 boundary, nested maps. "
    "Top-level objects must be maps and tile the blob. Lies: a "
    "non-minimal uint16 (13th), a str8 length overshoot (17th), "
    "the reserved byte 0xc1 (19th) - all refuse. One Arrow-batched "
    "map stage, no shuffle. operators/msgpack.py "
    "read_msgpack_stream",
    tags=("llm", "multimodal"),
)
def multimodal_msgpack_rows(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from gmall_flink_210726_spark.operators.msgpack import (
        msgpack_stats,
        synthesize_msgpack_media,
    )

    media = synthesize_msgpack_media(
        load_table(spark, sf_dir, "documents")
    )
    return msgpack_stats(media)
