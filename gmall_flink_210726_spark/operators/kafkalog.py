"""Kafka log-segment RecordBatch decode (message format v2, the
public Apache Kafka protocol / KIP-98) — the BYTES the gmall
reference's topics actually store. The container has no broker
(SURVEY §2.1's S1 caveat), but the broker's on-disk segment format
is just bytes, and THIS is the part of the Kafka wire path that is
data, not networking: every tiered-storage / lakehouse-offload
pipeline reads exactly these record batches from segment files
(cf. the reference's topic plumbing at gmall-realtime/src/main/java/
com/guohaoyu/util/MyKafkaUtil.java:21-48 — the payloads those
producers emit land in this format).

Implemented from the spec:

- a SEGMENT is a concatenation of RecordBatch v2 frames:
  baseOffset(i64 BE) batchLength(i32) partitionLeaderEpoch(i32)
  magic(=2) crc(u32 BE) attributes(i16) lastOffsetDelta(i32)
  baseTimestamp(i64) maxTimestamp(i64) producerId(i64)
  producerEpoch(i16) baseSequence(i32) recordCount(i32) records;
- the CRC is **CRC32C** (Castagnoli, reflected poly 0x82F63B78 —
  implemented from scratch, pinned on the RFC 3720 check vector)
  over everything AFTER the crc field — a single flipped byte in
  the records region must degrade;
- attributes bits 0-2 select the records-block compression: none /
  gzip / xerial-snappy / lz4 FRAME / zstd, routed through the
  repo's hand RFC 1952,
  RFC 8878 and LZ4-frame decoders (Kafka's snappy is the
  Java-ecosystem xerial framing over raw snappy blocks, decoded by
  _xerial_snappy_decompress through the hand raw-snappy decoder);
- RECORDS are varint-framed with ZIGZAG varints: length, attributes,
  timestampDelta, offsetDelta, key (-1 = null), value, headers;
  each record's length field must equal its actual byte size,
  recordCount must equal the decoded count, offsetDeltas must be
  exactly 0..count-1, and lastOffsetDelta must agree.

Fixture batches are hand-encoded (the encoder mirrors the producer
side; compression via pyarrow's reference codecs); values carry a
numeric payload the reader parses back out, so the oracle proves
CONTENT decode, not just framing. Arrow-batched ``mapInPandas``,
zero shuffle.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

# CRC32C (Castagnoli), reflected polynomial 0x82F63B78, from scratch
_CRC32C_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = (_c >> 1) ^ 0x82F63B78 if _c & 1 else _c >> 1
    _CRC32C_TABLE.append(_c)

# slice-by-16 tables: _CRC32C_T16[k][b] is the CRC contribution of byte
# b followed by k zero bytes — the standard slicing decomposition
# (Kounavis & Berry 2008), derived from the base table above
_CRC32C_T16 = [list(_CRC32C_TABLE)]
for _ in range(15):
    _prev = _CRC32C_T16[-1]
    _CRC32C_T16.append(
        [(_prev[_n] >> 8) ^ _CRC32C_TABLE[_prev[_n] & 0xFF] for _n in range(256)]
    )
_CRC32C_T16 = [tuple(_t) for _t in _CRC32C_T16]
_CRC32C_NP = None  # numpy copies, built lazily on first large input


def _crc32c_small(data: bytes, crc: int) -> int:
    """Byte-at-a-time core (the from-scratch round-13 path)."""
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc


def _crc32c_sliced_py(data: bytes, crc: int) -> int:
    """Pure-Python slice-by-16 (optimization round 15, guide §4.2):
    one loop iteration per 16 bytes — 16 tuple lookups + xors — beats
    the byte-at-a-time loop ~1.4x from 16 B up (measured 125 -> 79-110
    ns/B across 32-256 B), the small-record Kafka/TFRecord/WAL floor
    the numpy hybrid's fixed cost cannot reach (numpy overtakes only
    at ~512 B; break-even re-measured this round). Same derived
    tables; agreement pinned in tests/test_codec_fastpaths.py."""
    n = len(data)
    m = n & ~15
    t15, t14, t13, t12, t11, t10, t9, t8 = _CRC32C_T16[15:7:-1]
    t7, t6, t5, t4, t3, t2, t1, t0 = _CRC32C_T16[7::-1]
    i = 0
    while i < m:
        crc = (
            t15[(crc ^ data[i]) & 0xFF]
            ^ t14[((crc >> 8) ^ data[i + 1]) & 0xFF]
            ^ t13[((crc >> 16) ^ data[i + 2]) & 0xFF]
            ^ t12[(crc >> 24) ^ data[i + 3]]
            ^ t11[data[i + 4]]
            ^ t10[data[i + 5]]
            ^ t9[data[i + 6]]
            ^ t8[data[i + 7]]
            ^ t7[data[i + 8]]
            ^ t6[data[i + 9]]
            ^ t5[data[i + 10]]
            ^ t4[data[i + 11]]
            ^ t3[data[i + 12]]
            ^ t2[data[i + 13]]
            ^ t1[data[i + 14]]
            ^ t0[data[i + 15]]
        )
        i += 16
    return _crc32c_small(data[m:], crc)


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC32C. Three tiers by payload size, break-evens measured:
    < 16 B byte-at-a-time; 16-511 B pure-Python slice-by-16
    (small-record floor, round 15); >= 512 B the numpy hybrid where
    the data-only 12 of every 16 slice-by-16 contributions are
    vectorized and only the 4 crc-dependent lookups stay in the
    sequential loop (~4x; optimization round 14, guide §4.2). All
    tiers share the same derived tables; agreement is pinned across
    both size boundaries in tests/test_codec_fastpaths.py. ``crc`` is
    masked to 32 bits on entry, so a wider seed cannot index past the
    256-entry tables."""
    crc = (crc & 0xFFFFFFFF) ^ 0xFFFFFFFF
    n = len(data)
    if n < 16:
        return _crc32c_small(data, crc) ^ 0xFFFFFFFF
    if n < 512:
        return _crc32c_sliced_py(data, crc) ^ 0xFFFFFFFF
    global _CRC32C_NP
    if _CRC32C_NP is None:
        import numpy as np

        _CRC32C_NP = [np.array(t, np.uint32) for t in _CRC32C_T16]
    import numpy as np

    m = n - (n % 16)
    a = np.frombuffer(data, np.uint8, m).reshape(-1, 16)
    acc = _CRC32C_NP[11][a[:, 4]]
    for j in range(5, 16):
        acc = acc ^ _CRC32C_NP[15 - j][a[:, j]]
    t15, t14, t13, t12 = (
        _CRC32C_T16[15],
        _CRC32C_T16[14],
        _CRC32C_T16[13],
        _CRC32C_T16[12],
    )
    for x0, x1, x2, x3, ac in zip(
        a[:, 0].tolist(),
        a[:, 1].tolist(),
        a[:, 2].tolist(),
        a[:, 3].tolist(),
        acc.tolist(),
    ):
        crc = (
            t15[(crc ^ x0) & 0xFF]
            ^ t14[((crc >> 8) ^ x1) & 0xFF]
            ^ t13[((crc >> 16) ^ x2) & 0xFF]
            ^ t12[(crc >> 24) ^ x3]
            ^ ac
        )
    return _crc32c_small(data[m:], crc) ^ 0xFFFFFFFF


def _zz_dec(data: bytes, pos: int) -> tuple[int, int]:
    v = shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("kafka: truncated varint")
        b = data[pos]
        pos += 1
        v |= (b & 0x7F) << shift
        if not b & 0x80:
            return (v >> 1) ^ -(v & 1), pos
        shift += 7


def _zz_enc(v: int) -> bytes:
    u = (v << 1) ^ (v >> 63) if v < 0 else v << 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


_COMP_NAMES = {0: "none", 1: "gzip", 2: "snappy", 3: "lz4", 4: "zstd"}


_XERIAL_MAGIC = b"\x82SNAPPY\x00"


def _xerial_snappy_decompress(body: bytes) -> bytes | None:
    """Kafka's snappy records-block coding is the Java-ecosystem
    XERIAL stream framing (snappy-java SnappyOutputStream), not raw
    snappy: the 8-byte magic ``\x82SNAPPY\x00``, two int32-BE
    version fields (version, min-compatible version), then repeated
    ``[int32 BE block length][raw snappy block]`` — each block
    routed through the repo's hand raw-snappy decoder
    (operators/parquetmeta.py snappy_decompress). Exact consumption:
    a block length that overruns the body refuses the batch."""
    from gmall_flink_210726_spark.operators.parquetmeta import (
        snappy_decompress,
    )

    if len(body) < 16 or body[:8] != _XERIAL_MAGIC:
        return None
    version, compat = struct.unpack_from(">ii", body, 8)
    if version < 1 or compat < 1 or compat > version:
        return None
    pos = 16
    out = bytearray()
    while pos < len(body):
        if pos + 4 > len(body):
            return None
        (ln,) = struct.unpack_from(">i", body, pos)
        pos += 4
        if ln <= 0 or pos + ln > len(body):
            return None
        out.extend(snappy_decompress(body[pos : pos + ln]))
        pos += ln
    return bytes(out)


def _records_decompress(body: bytes, codec: int) -> bytes | None:
    if codec == 0:
        return body
    try:
        if codec == 1:
            from gmall_flink_210726_spark.operators.inflate import (
                iter_gzip_members,
            )

            members = iter_gzip_members(body)
            if members is None:
                return None
            return b"".join(p for _, p in members)
        if codec == 2:
            return _xerial_snappy_decompress(body)
        if codec == 3:
            from gmall_flink_210726_spark.operators.lz4 import (
                lz4_frame_decompress,
            )

            return lz4_frame_decompress(body)
        if codec == 4:
            from gmall_flink_210726_spark.operators.zstd import (
                zstd_decompress,
            )

            return zstd_decompress(body)
    except ValueError:
        return None
    return None


def _iter_batches(data: bytes):
    """Shared RecordBatch v2 frame walk: yields
    ``(pos, base_off, attrs, last_od, pid, rcount, body)`` per batch
    with the CRC32C proof, codec validation, and records-block
    decompression already done. Raises ValueError on any framing
    violation — the single copy of the batch grammar every reader in
    this module builds on."""
    pos = 0
    if not data:
        raise ValueError("kafka: empty segment")
    while pos < len(data):
        if pos + 12 > len(data):
            raise ValueError("kafka: truncated batch header")
        base_off, blen = struct.unpack_from(">qi", data, pos)
        batch_end = pos + 12 + blen
        if blen <= 49 or batch_end > len(data):
            raise ValueError("kafka: bad batch length")
        (_ple, magic) = struct.unpack_from(">ib", data, pos + 12)
        if magic != 2:
            raise ValueError("kafka: bad magic")
        (crc,) = struct.unpack_from(">I", data, pos + 17)
        if crc32c(data[pos + 21 : batch_end]) != crc:
            raise ValueError("kafka: CRC32C mismatch")
        (attrs, last_od) = struct.unpack_from(">hi", data, pos + 21)
        (_bts, _mts, pid) = struct.unpack_from(">qqq", data, pos + 27)
        (_pep, _bseq, rcount) = struct.unpack_from(
            ">hii", data, pos + 51
        )
        codec = attrs & 7
        if codec not in _COMP_NAMES:
            raise ValueError("kafka: unknown codec")
        body = _records_decompress(data[pos + 61 : batch_end], codec)
        if body is None:
            raise ValueError("kafka: records block decode failed")
        yield pos, base_off, attrs, last_od, pid, rcount, body
        pos = batch_end


def read_kafka_segment(data: bytes) -> dict | None:
    """Segment walk -> aggregate proof of record-level decode; None
    on any framing/CRC/books violation (module docstring)."""
    out = {
        "n_batches": 0,
        "n_records": 0,
        "n_null_keys": 0,
        "key_len_sum": 0,
        "value_len_sum": 0,
        "payload_sum": 0,
        "ts_delta_sum": 0,
        "max_offset": -1,
    }
    codecs: set[str] = set()
    try:
        for _pos, base_off, attrs, last_od, _pid, rcount, body in (
            _iter_batches(data)
        ):
            recs = _parse_v2_records(body, rcount)
            if recs is None:
                return None
            for rec in recs:
                key, value = rec["key"], rec["value"]
                if key is None:
                    out["n_null_keys"] += 1
                else:
                    out["key_len_sum"] += len(key)
                if value is None:
                    return None  # fixture values are never null
                # content proof: the numeric payload after the tag
                if value[:1] != b"v" or not value[1:].isdigit():
                    return None
                out["payload_sum"] += int(value[1:])
                out["value_len_sum"] += len(value)
                out["ts_delta_sum"] += rec["ts_delta"]
            if last_od != rcount - 1:
                return None  # the batch header's own books
            out["n_batches"] += 1
            out["n_records"] += rcount
            out["max_offset"] = base_off + last_od
            codecs.add(_COMP_NAMES[attrs & 7])
    except (ValueError, struct.error):
        return None
    out["compression"] = (
        next(iter(codecs))
        if len(codecs) == 1
        else ("none" if not codecs else "mixed")
    )
    return out


KAFKA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("compression", StringType()),
        StructField("n_batches", LongType()),
        StructField("n_records", LongType()),
        StructField("n_null_keys", LongType()),
        StructField("key_len_sum", LongType()),
        StructField("value_len_sum", LongType()),
        StructField("payload_sum", LongType()),
        StructField("ts_delta_sum", LongType()),
        StructField("max_offset", LongType()),
    ]
)


def _kafka_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    out = []
    for mid, blob in zip(pdf["media_id"], pdf["content"]):
        i = int(mid)
        row = {
            "media_id": i,
            "format": "unknown",
            "compression": "",
            "n_batches": 0,
            "n_records": 0,
            "n_null_keys": 0,
            "key_len_sum": 0,
            "value_len_sum": 0,
            "payload_sum": 0,
            "ts_delta_sum": 0,
            "max_offset": 0,
        }
        b = bytes(blob) if blob is not None else b""
        try:
            st = read_kafka_segment(b)
        except Exception:
            st = None
        if st is not None:
            # compression comes from the DECODED batch attributes,
            # not the fixture id
            row.update(format="kafka", **st)
        out.append(row)
    return pd.DataFrame(
        out, columns=[f.name for f in KAFKA_SCHEMA.fields]
    )


def kafka_segment_stats(df: DataFrame) -> DataFrame:
    """Kafka RecordBatch v2 segment walk over MEDIA_SCHEMA blobs."""
    from gmall_flink_210726_spark.session import ship_package

    ship_package(df.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _kafka_batch(pdf)

    return df.select("media_id", "content").mapInPandas(
        gen, KAFKA_SCHEMA
    )


# --------------------------------------------------------------------------
# Fixture: hand-encoded batches, compression via reference codecs
# --------------------------------------------------------------------------


def _enc_record(i: int, b: int, r: int) -> bytes:
    body = bytearray(b"\x00")  # record attributes
    body += _zz_enc(r)  # timestampDelta
    body += _zz_enc(r)  # offsetDelta
    if (i + b + r) % 3 == 0:
        body += _zz_enc(-1)  # null key
    else:
        k = f"k{(i + r) % 10}".encode()
        body += _zz_enc(len(k)) + k
    v = f"v{(7 * i + 5 * b + r) % 100}".encode()
    body += _zz_enc(len(v)) + v
    if (i + r) % 2 == 0:
        hk, hv = b"h", f"x{r}".encode()
        body += _zz_enc(1)
        body += _zz_enc(len(hk)) + hk + _zz_enc(len(hv)) + hv
    else:
        body += _zz_enc(0)
    return _zz_enc(len(body)) + bytes(body)


def _make_kafka_segment(i: int, bad_stripe: int = 11) -> bytes:
    """``1 + i % 3`` batches of ``2 + (i+b) % 4`` records each,
    compression by id (none/gzip/xerial-snappy/lz4-frame/zstd via
    the reference pyarrow codecs). Every ``bad_stripe``-th id XORs one byte inside
    the FIRST batch's records region — CRC32C must catch it."""
    codec = i % 5
    base_off = 0
    parts = []
    first_records_at = -1
    for b in range(1 + i % 3):
        rcount = 2 + (i + b) % 4
        records = b"".join(_enc_record(i, b, r) for r in range(rcount))
        if codec == 1:
            import pyarrow as pa

            records = bytes(pa.Codec("gzip").compress(records))
        elif codec == 2:
            import pyarrow as pa

            # xerial framing over raw snappy blocks; <=24-byte blocks
            # force the multi-block path
            blocks = [
                bytes(pa.Codec("snappy").compress(records[o : o + 24]))
                for o in range(0, len(records), 24)
            ]
            records = _XERIAL_MAGIC + struct.pack(">ii", 1, 1) + b"".join(
                struct.pack(">i", len(blk)) + blk for blk in blocks
            )
        elif codec == 3:
            import pyarrow as pa

            records = bytes(pa.Codec("lz4").compress(records))
        elif codec == 4:
            import pyarrow as pa

            records = bytes(pa.Codec("zstd").compress(records))
        attrs = codec
        mid = struct.pack(
            ">hiqqqhii",
            attrs,
            rcount - 1,  # lastOffsetDelta
            1700000000000 + b,  # baseTimestamp
            1700000000000 + b + rcount,  # maxTimestamp
            -1,  # producerId
            -1,  # producerEpoch
            -1,  # baseSequence
            rcount,
        ) + records
        crc = crc32c(mid)
        head = struct.pack(
            ">qiibI",
            base_off,
            4 + 1 + 4 + len(mid),  # batchLength: after the field
            0,  # partitionLeaderEpoch
            2,  # magic
            crc,
        )
        if first_records_at < 0:
            first_records_at = (
                sum(len(p) for p in parts) + len(head) + 40
            )
        parts.append(head + mid)
        base_off += rcount
    blob = bytearray(b"".join(parts))
    if i % bad_stripe == 0:
        blob[first_records_at + 3] ^= 0x55
    return bytes(blob)


def synthesize_kafka_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of Kafka log-segment byte streams."""
    from gmall_flink_210726_spark.operators.multimodal import MEDIA_SCHEMA
    from gmall_flink_210726_spark.session import (
        ensure_parallelism,
        ship_package,
    )

    ship_package(docs.sparkSession)
    sel = docs.select("doc_id")
    # partitions: stream twins pin the src file count here, BEFORE
    # blob synthesis, so only doc ids are ever shuffled (guide §8)
    docs = sel.repartition(partitions) if partitions else ensure_parallelism(sel)

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [
                        _make_kafka_segment(int(i)) for i in ids
                    ],
                    "meta": [
                        {
                            "format": "kafka",
                            "width": 0,
                            "height": 0,
                            "sample_rate": 0,
                        }
                        for _ in ids
                    ],
                }
            )

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# KIP-98 transactional reads (read_committed): attributes bit 4 marks
# a TRANSACTIONAL batch (producerId >= 0 required), bit 5 a CONTROL
# batch carrying exactly one control record whose KEY is
# ``version:int16 BE, type:int16 BE`` (0 = ABORT, 1 = COMMIT). A
# read_committed scan buffers each producer's transactional records
# until its marker arrives: commit makes them visible, abort drops
# them. A closed segment must close every transaction — a dangling
# open producer, a marker for a producer with nothing open, an
# unknown control type, or a transactional batch without a producer
# id all refuse (the exactly-once books must balance exactly).
# --------------------------------------------------------------------------


def _parse_v2_records(
    body: bytes, rcount: int, dense: bool = True
) -> list[dict] | None:
    """Shared v2 record-framing walk ->
    [{'ts_delta','off_delta','key','value'}]; None on any framing
    violation (exact lengths, exact consumption).  ``dense=True``
    requires offset deltas 0..rcount-1 (a producer-written batch);
    ``dense=False`` allows the GAPS a compacted-log cleaner leaves
    (original offsets preserved, cleaned records missing) but still
    requires them strictly increasing from >= 0."""
    rp = 0
    out = []
    prev_od = -1
    for k in range(rcount):
        rlen, rp = _zz_dec(body, rp)
        rec_end = rp + rlen
        if rlen < 0 or rec_end > len(body) or rp >= len(body):
            return None
        rp += 1  # record attributes
        ts_delta, rp = _zz_dec(body, rp)
        off_delta, rp = _zz_dec(body, rp)
        if dense:
            if off_delta != k:
                return None
        else:
            if off_delta <= prev_od:
                return None
            prev_od = off_delta
        klen, rp = _zz_dec(body, rp)
        key = None
        if klen >= 0:
            if rp + klen > len(body):
                return None
            key = body[rp : rp + klen]
            rp += klen
        vlen, rp = _zz_dec(body, rp)
        value = None
        if vlen >= 0:
            if rp + vlen > len(body):
                return None
            value = body[rp : rp + vlen]
            rp += vlen
        nhdr, rp = _zz_dec(body, rp)
        if nhdr < 0:
            return None
        for _ in range(nhdr):
            hk, rp = _zz_dec(body, rp)
            if hk < 0 or rp + hk > len(body):
                return None
            rp += hk
            hv, rp = _zz_dec(body, rp)
            if hv < 0 or rp + hv > len(body):
                return None
            rp += hv
        if rp != rec_end:
            return None
        out.append(
            {
                "ts_delta": ts_delta,
                "off_delta": off_delta,
                "key": key,
                "value": value,
            }
        )
    if rp != len(body):
        return None
    return out


def read_kafka_segment_committed(data: bytes) -> dict | None:
    """read_committed segment walk (section doc); None on any
    framing/CRC/transaction-books violation."""
    out = {
        "n_batches": 0,
        "n_control": 0,
        "n_txn_batches": 0,
        "n_txns_committed": 0,
        "n_txns_aborted": 0,
        "committed_records": 0,
        "committed_sum": 0,
        "aborted_records": 0,
        "aborted_sum": 0,
        "max_offset": -1,
    }
    # producerId -> [n_records, payload_sum] buffered until a marker
    open_txns: dict[int, list[int]] = {}
    try:
        for _pos, base_off, attrs, last_od, pid, rcount, body in (
            _iter_batches(data)
        ):
            is_txn = bool(attrs & 0x10)
            is_control = bool(attrs & 0x20)
            if rcount <= 0 or last_od != rcount - 1:
                return None
            recs = _parse_v2_records(body, rcount)
            if recs is None:
                return None
            out["n_batches"] += 1
            out["max_offset"] = base_off + last_od
            if is_control:
                # control batches are coordinator-written markers
                if not is_txn or pid < 0 or rcount != 1:
                    return None
                key = recs[0]["key"]
                if key is None or len(key) < 4:
                    return None
                version, ctype = struct.unpack_from(">hh", key, 0)
                if version < 0 or ctype not in (0, 1):
                    return None  # 0 = abort, 1 = commit
                if pid not in open_txns:
                    return None  # marker with nothing open
                n, total = open_txns.pop(pid)
                out["n_control"] += 1
                if ctype == 1:
                    out["n_txns_committed"] += 1
                    out["committed_records"] += n
                    out["committed_sum"] += total
                else:
                    out["n_txns_aborted"] += 1
                    out["aborted_records"] += n
                    out["aborted_sum"] += total
                continue
            # data batch: the fixture payload contract ('v' + digits)
            total = 0
            for rec in recs:
                v = rec["value"]
                if v is None or v[:1] != b"v" or not v[1:].isdigit():
                    return None
                total += int(v[1:])
            if is_txn:
                if pid < 0:
                    return None  # transactional batch needs a producer
                out["n_txn_batches"] += 1
                buf = open_txns.setdefault(pid, [0, 0])
                buf[0] += rcount
                buf[1] += total
            else:
                out["committed_records"] += rcount
                out["committed_sum"] += total
    except (ValueError, struct.error):
        return None
    if open_txns:
        return None  # a closed segment must close every transaction
    return out


KAFKA_TXN_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_batches", LongType()),
        StructField("n_control", LongType()),
        StructField("n_txn_batches", LongType()),
        StructField("n_txns_committed", LongType()),
        StructField("n_txns_aborted", LongType()),
        StructField("committed_records", LongType()),
        StructField("committed_sum", LongType()),
        StructField("aborted_records", LongType()),
        StructField("aborted_sum", LongType()),
        StructField("max_offset", LongType()),
    ]
)


def kafka_committed_stats(df: DataFrame) -> DataFrame:
    """read_committed segment walk over MEDIA_SCHEMA blobs."""
    from gmall_flink_210726_spark.session import ship_package

    ship_package(df.sparkSession)
    cols = [f.name for f in KAFKA_TXN_SCHEMA.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                i = int(mid)
                row = {c: 0 for c in cols}
                row.update(media_id=i, format="unknown")
                b = bytes(blob) if blob is not None else b""
                try:
                    st = read_kafka_segment_committed(b)
                except Exception:
                    st = None
                if st is not None:
                    row.update(format="kafka", **st)
                out.append(row)
            yield pd.DataFrame(out, columns=cols)

    return df.select("media_id", "content").mapInPandas(
        gen, KAFKA_TXN_SCHEMA
    )


def _enc_batch(
    base_off: int,
    records: bytes,
    rcount: int,
    attrs: int,
    pid: int,
    codec: int = 0,
    first_ts: int = 1700000000000,
    max_ts: int | None = None,
) -> bytes:
    """One RecordBatch v2 frame around already-encoded records."""
    if codec:
        import pyarrow as pa

        name = {1: "gzip", 3: "lz4", 4: "zstd"}.get(codec)
        if name:
            records = bytes(pa.Codec(name).compress(records))
        else:  # xerial snappy
            blocks = [
                bytes(
                    pa.Codec("snappy").compress(records[o : o + 24])
                )
                for o in range(0, len(records), 24)
            ]
            records = (
                _XERIAL_MAGIC
                + struct.pack(">ii", 1, 1)
                + b"".join(
                    struct.pack(">i", len(b)) + b for b in blocks
                )
            )
    mid = struct.pack(
        ">hiqqqhii",
        attrs | codec,
        rcount - 1,
        first_ts,
        max_ts if max_ts is not None else first_ts + rcount,
        pid,
        0 if pid >= 0 else -1,
        -1,
        rcount,
    ) + records
    return struct.pack(
        ">qiibI",
        base_off,
        4 + 1 + 4 + len(mid),
        0,
        2,
        crc32c(mid),
    ) + mid


def _enc_control_record(ctype: int) -> bytes:
    key = struct.pack(">hh", 0, ctype)
    value = struct.pack(">i", 0)  # coordinator epoch (v0)
    body = bytearray(b"\x00")
    body += _zz_enc(0)  # timestampDelta
    body += _zz_enc(0)  # offsetDelta
    body += _zz_enc(len(key)) + key
    body += _zz_enc(len(value)) + value
    body += _zz_enc(0)  # headers
    return _zz_enc(len(body)) + bytes(body)


def _make_kafka_txn_segment(i: int) -> bytes:
    """Interleaved transactional segment: a plain batch, then
    ``1 + i % 2`` producers each writing ``1 + (i+p) % 2`` data
    batches of 2-4 records, then (interleaved with a second plain
    batch) one marker per producer — ABORT when (i + p) % 3 == 0,
    COMMIT otherwise. Data-batch compression rotates i%5. Lie
    stripes: every 17th id drops the LAST marker (dangling open
    transaction), every 19th-miss-17th id prepends a marker for a
    producer with nothing open, every 11th-miss-both id XORs a byte
    in the first batch's records (CRC must catch)."""
    codec = i % 5
    parts: list[bytes] = []
    base_off = 0

    def plain(nrec: int, salt: int) -> None:
        nonlocal base_off
        recs = b"".join(
            _enc_record(i, salt, r) for r in range(nrec)
        )
        parts.append(
            _enc_batch(base_off, recs, nrec, 0, -1, codec)
        )
        base_off += nrec

    def marker(pid: int, ctype: int) -> None:
        nonlocal base_off
        parts.append(
            _enc_batch(
                base_off, _enc_control_record(ctype), 1, 0x30, pid
            )
        )
        base_off += 1

    if i % 17 != 0 and i % 19 == 0:
        marker(99, 1)  # marker with nothing open -> refuse
    plain(2 + i % 3, 0)
    n_pids = 1 + i % 2
    for p in range(n_pids):
        for b in range(1 + (i + p) % 2):
            nrec = 2 + (i + p + b) % 3
            recs = b"".join(
                _enc_record(i, 10 * (p + 1) + b, r)
                for r in range(nrec)
            )
            parts.append(
                _enc_batch(base_off, recs, nrec, 0x10, p, codec)
            )
            base_off += nrec
    plain(2, 1)
    for p in range(n_pids):
        if i % 17 == 0 and p == n_pids - 1:
            continue  # dangling open transaction -> refuse
        marker(p, 0 if (i + p) % 3 == 0 else 1)
    blob = bytearray(b"".join(parts))
    if i % 11 == 0 and i % 17 != 0 and i % 19 != 0:
        # Flip a byte INSIDE the first batch's CRC-covered region
        # (attributes onward = frame offset 61+): computed from the
        # batch's actual length, not a hard-coded offset, so the
        # stripe stays a CRC degrade even if the fixture's first
        # batch ever shrinks.
        (first_len,) = struct.unpack_from(">i", blob, 8)
        flip = max(21, min(73, 12 + first_len - 1))
        blob[flip] ^= 0x55
    return bytes(blob)


def synthesize_kafka_txn_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of transactional Kafka segments."""
    from gmall_flink_210726_spark.operators.multimodal import MEDIA_SCHEMA
    from gmall_flink_210726_spark.session import (
        ensure_parallelism,
        ship_package,
    )

    ship_package(docs.sparkSession)
    sel = docs.select("doc_id")
    # partitions: stream twins pin the src file count here, BEFORE
    # blob synthesis, so only doc ids are ever shuffled (guide §8)
    docs = sel.repartition(partitions) if partitions else ensure_parallelism(sel)

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [
                        _make_kafka_txn_segment(int(i)) for i in ids
                    ],
                    "meta": [
                        {
                            "format": "kafka",
                            "width": 0,
                            "height": 0,
                            "sample_rate": 0,
                        }
                        for _ in ids
                    ],
                }
            )

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# OFFSET INDEX (.index): every Kafka log segment ships a sparse
# offset index — 8-byte big-endian entries (relativeOffset:int32,
# position:int32) appended as (largest offset of the batch, physical
# position of the batch START); a consumer seek does a floor binary
# search then scans batches forward from that position (the broker's
# translateOffset). The pair travels as a 2-member tar
# (segment.log + segment.index). Trust chain: entries strictly
# ascending in BOTH fields, every position must land exactly on a
# batch boundary, and each entry's relativeOffset must equal that
# batch's own last offset relative to the segment base — a cooked
# index silently desyncs every seek, here it degrades.
# --------------------------------------------------------------------------


def _batch_offsets(data: bytes) -> list[tuple[int, int, int]] | None:
    """Frame walk -> [(position, base_offset, last_offset)] with CRC
    proof per batch; None on any framing violation."""
    out = []
    try:
        for pos, base_off, _attrs, last_od, _pid, _rc, _body in (
            _iter_batches(data)
        ):
            if last_od < 0:
                return None
            out.append((pos, base_off, base_off + last_od))
    except (ValueError, struct.error):
        return None
    return out


def read_kafka_indexed_lookup(data: bytes, target_rel: int) -> dict | None:
    """Tar(segment.log, segment.index) -> seek proof for the record
    at ``segment_base + target_rel`` (section doc); None on any
    index/framing/books violation or a target outside the segment."""
    from gmall_flink_210726_spark.operators.wds import _iter_tar_members

    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    log = files.get("segment.log")
    idx = files.get("segment.index")
    if log is None or idx is None or len(idx) % 8:
        return None
    batches = _batch_offsets(log)
    if not batches:
        return None
    by_pos = {p: (b, l) for p, b, l in batches}
    seg_base = batches[0][1]
    entries = [
        struct.unpack_from(">ii", idx, o) for o in range(0, len(idx), 8)
    ]
    prev_r = prev_p = -1
    for rel, p in entries:
        if rel <= prev_r or p <= prev_p:
            return None  # must be strictly ascending in both fields
        got = by_pos.get(p)
        if got is None:
            return None  # position must land on a batch boundary
        if got[1] - seg_base != rel:
            return None  # entry must name ITS batch's last offset
        prev_r, prev_p = rel, p
    target = seg_base + target_rel
    if target < seg_base or target > batches[-1][2]:
        return None  # outside the segment
    # floor search: the last entry with relativeOffset <= target_rel
    start_pos = 0
    for rel, p in entries:
        if rel <= target_rel:
            start_pos = p
        else:
            break
    scanned = 0
    for p, b, last in batches:
        if p < start_pos:
            continue
        scanned += 1
        if b <= target <= last:
            # decode the batch and surface the record's payload
            (attrs,) = struct.unpack_from(">h", log, p + 21)
            (blen,) = struct.unpack_from(">i", log, p + 8)
            body = _records_decompress(
                log[p + 61 : p + 12 + blen], attrs & 7
            )
            if body is None:
                return None
            recs = _parse_v2_records(body, last - b + 1)
            if recs is None:
                return None
            v = recs[target - b]["value"]
            if v is None or v[:1] != b"v" or not v[1:].isdigit():
                return None
            return {
                "n_entries": len(entries),
                "n_batches": len(batches),
                "batches_scanned": scanned,
                "found_offset": target,
                "payload": int(v[1:]),
            }
    return None  # a hole in the offsets: the books lied


KAFKA_IDX_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_entries", LongType()),
        StructField("n_batches", LongType()),
        StructField("batches_scanned", LongType()),
        StructField("found_offset", LongType()),
        StructField("payload", LongType()),
    ]
)


def kafka_indexed_lookup_stats(df: DataFrame, target_rel: int) -> DataFrame:
    """Offset-index seek over MEDIA_SCHEMA tar blobs."""
    from gmall_flink_210726_spark.session import ship_package

    ship_package(df.sparkSession)
    cols = [f.name for f in KAFKA_IDX_SCHEMA.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                row = {c: 0 for c in cols}
                row.update(media_id=int(mid), format="unknown")
                b = bytes(blob) if blob is not None else b""
                try:
                    st = read_kafka_indexed_lookup(b, target_rel)
                except Exception:
                    st = None
                if st is not None:
                    row.update(format="kafka", **st)
                out.append(row)
            yield pd.DataFrame(out, columns=cols)

    return df.select("media_id", "content").mapInPandas(
        gen, KAFKA_IDX_SCHEMA
    )


def _make_kafka_indexed_segment(i: int) -> bytes:
    """Tar(segment.log, segment.index): ``3 + i % 4`` batches of
    ``2 + (i + b) % 4`` records, compression rotating i%5; the index
    is SPARSE — every second batch gets an entry (batch 0 always).
    Lie stripes: every 15th id bumps an entry's position mid-batch
    (not a boundary), every 16th-miss-15th id bumps an entry's
    relativeOffset by one (naming an offset its batch does not end
    at), every 11th-miss-both id swaps two entries (non-monotonic) —
    each must degrade rather than desync the seek."""
    from gmall_flink_210726_spark.operators.tar import (
        _BLOCK,
        _make_header,
    )

    codec = i % 5
    parts: list[bytes] = []
    entries: list[tuple[int, int]] = []
    base_off = 0
    pos = 0
    nb = 3 + i % 4
    for b in range(nb):
        rcount = 2 + (i + b) % 4
        records = b"".join(_enc_record(i, b, r) for r in range(rcount))
        frame = _enc_batch(base_off, records, rcount, 0, -1, codec)
        if b % 2 == 0:
            entries.append((base_off + rcount - 1, pos))
        parts.append(frame)
        pos += len(frame)
        base_off += rcount
    log = b"".join(parts)
    if i % 15 == 0:
        entries[0] = (entries[0][0], entries[0][1] + 9)
    elif i % 16 == 0:
        entries[-1] = (entries[-1][0] + 1, entries[-1][1])
    elif i % 11 == 0 and len(entries) >= 2:
        entries[0], entries[1] = entries[1], entries[0]
    idx = b"".join(struct.pack(">ii", r, p) for r, p in entries)
    out = []
    for name, payload in (("segment.log", log), ("segment.index", idx)):
        pad = (-len(payload)) % _BLOCK
        out.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(out) + b"\x00" * (2 * _BLOCK)


def synthesize_kafka_indexed_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of (segment.log, segment.index) tars."""
    from gmall_flink_210726_spark.operators.multimodal import MEDIA_SCHEMA
    from gmall_flink_210726_spark.session import (
        ensure_parallelism,
        ship_package,
    )

    ship_package(docs.sparkSession)
    sel = docs.select("doc_id")
    # partitions: stream twins pin the src file count here, BEFORE
    # blob synthesis, so only doc ids are ever shuffled (guide §8)
    docs = sel.repartition(partitions) if partitions else ensure_parallelism(sel)

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [
                        _make_kafka_indexed_segment(int(i))
                        for i in ids
                    ],
                    "meta": [
                        {
                            "format": "kafka",
                            "width": 0,
                            "height": 0,
                            "sample_rate": 0,
                        }
                        for _ in ids
                    ],
                }
            )

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# Schema-Registry payloads: Confluent wire framing + Avro
# single-object encoding over RecordBatch v2 values
# --------------------------------------------------------------------------
#
# The dominant real-world Kafka payload conventions (the reference's
# consumers, util/MyKafkaUtil.java:32-37, would hit these first):
#
# - Confluent wire format (docs.confluent.io 'Wire format'): value =
#   magic byte 0x00 + 4-byte BIG-endian schema id + Avro binary
#   datum; the id resolves against the schema registry;
# - Avro single-object encoding (Avro 1.11 spec): value = C3 01 +
#   8-byte LITTLE-endian CRC-64-AVRO fingerprint of the writer
#   schema's Parsing Canonical Form + Avro binary datum.
#
# Either way the consumer decodes with WRITER schema = the resolved
# one and READER schema = the subject's latest version (schema
# evolution end-to-end: int->long promotion + defaulted added
# fields). An unknown schema id or fingerprint REFUSES — guessing a
# schema fabricates data.

KAFKA_REG_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_records", LongType()),
        StructField("n_v1", LongType()),
        StructField("n_v2", LongType()),
        StructField("n_confluent", LongType()),
        StructField("n_single_object", LongType()),
        StructField("value_sum", LongType()),
    ]
)

_REG_V1 = {
    "type": "record",
    "name": "Evt",
    "fields": [{"name": "a", "type": "int"}],
}
_REG_V2 = {
    "type": "record",
    "name": "Evt",
    "fields": [
        {"name": "a", "type": "long"},
        {"name": "b", "type": "long", "default": 5},
    ],
}


def read_kafka_avro_registry(data: bytes) -> dict | None:
    """Tar(registry.json, segment .log) -> per-topic decode stats
    with every record value resolved through the registry (module
    section doc); None on any framing, registry, or resolution
    violation."""
    import json as _json

    from gmall_flink_210726_spark.operators.avro import (
        _decode_resolved,
        decode_single_object_frame,
        schema_fingerprint,
    )
    from gmall_flink_210726_spark.operators.parquetmeta import _Reader
    from gmall_flink_210726_spark.operators.wds import _iter_tar_members

    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    reg_raw = files.get("registry.json")
    seg = next(
        (v for k, v in files.items() if k.endswith(".log")), None
    )
    if reg_raw is None or seg is None:
        return None
    try:
        reg = _json.loads(reg_raw.decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return None
    versions = reg.get("versions")
    latest = reg.get("latest")
    if not isinstance(versions, dict) or not isinstance(latest, int):
        return None
    by_id: dict[int, tuple[int, dict]] = {}
    by_fp: dict[int, tuple[int, dict]] = {}
    for vstr, entry in versions.items():
        if (
            not vstr.isdigit()
            or not isinstance(entry, dict)
            or not isinstance(entry.get("id"), int)
            or not isinstance(entry.get("schema"), dict)
        ):
            return None
        ver = int(vstr)
        sch = entry["schema"]
        by_id[entry["id"]] = (ver, sch)
        try:
            by_fp[schema_fingerprint(sch)] = (ver, sch)
        except (ValueError, KeyError, TypeError):
            return None
    if str(latest) not in versions:
        return None
    reader_schema = versions[str(latest)]["schema"]
    n_records = n_v1 = n_v2 = n_conf = n_so = value_sum = 0
    try:
        for _pos, _bo, attrs, _lod, _pid, rcount, body in _iter_batches(
            seg
        ):
            if attrs & 0x20:
                return None  # control batches don't belong here
            recs = _parse_v2_records(body, rcount)
            if recs is None:
                return None
            for rec in recs:
                v = rec["value"]
                if not v:
                    return None
                if v[0] == 0x00:
                    if len(v) < 5:
                        return None
                    (sid,) = struct.unpack_from(">I", v, 1)
                    hit = by_id.get(sid)
                    if hit is None:
                        return None  # unregistered schema id
                    datum = v[5:]
                    n_conf += 1
                else:
                    frame = decode_single_object_frame(v)
                    if frame is None:
                        return None
                    fp, datum = frame
                    hit = by_fp.get(fp)
                    if hit is None:
                        return None  # unknown fingerprint
                    n_so += 1
                ver, wsch = hit
                r = _Reader(datum, 0, len(datum))
                try:
                    val = _decode_resolved(r, wsch, reader_schema)
                except (ValueError, KeyError, TypeError):
                    return None
                if r.pos != r.end:
                    return None
                if ver == 1:
                    n_v1 += 1
                elif ver == 2:
                    n_v2 += 1
                value_sum += int(val["a"]) + int(val["b"])
                n_records += 1
    except ValueError:
        return None
    return {
        "n_records": n_records,
        "n_v1": n_v1,
        "n_v2": n_v2,
        "n_confluent": n_conf,
        "n_single_object": n_so,
        "value_sum": value_sum,
    }


def kafka_avro_registry_stats(df: DataFrame) -> DataFrame:
    """Registry-resolved Avro decode over MEDIA_SCHEMA tar blobs."""
    from gmall_flink_210726_spark.session import ship_package

    ship_package(df.sparkSession)
    cols = [f.name for f in KAFKA_REG_SCHEMA.fields]

    def gen(batches):
        for pdf in batches:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                row = {c: 0 for c in cols}
                row.update(media_id=int(mid), format="unknown")
                b = bytes(blob) if blob is not None else b""
                try:
                    st = read_kafka_avro_registry(b)
                except Exception:
                    st = None
                if st is not None:
                    row.update(format="avro_registry", **st)
                out.append(row)
            yield pd.DataFrame(out, columns=cols)

    return df.select("media_id", "content").mapInPandas(
        gen, KAFKA_REG_SCHEMA
    )


def _enc_value_record(rel: int, key: bytes | None, value: bytes) -> bytes:
    """One v2 record frame around caller-provided key/value bytes."""
    body = bytearray(b"\x00")
    body += _zz_enc(rel)  # timestampDelta
    body += _zz_enc(rel)  # offsetDelta
    if key is None:
        body += _zz_enc(-1)
    else:
        body += _zz_enc(len(key)) + key
    body += _zz_enc(len(value)) + value
    body += _zz_enc(0)  # headers
    return _zz_enc(len(body)) + bytes(body)


def _make_kafka_registry_tar(i: int) -> bytes:
    """Tar(registry.json, 00000000000000000000.log): ``12 + i % 9``
    messages; message m is written with schema v2 when (i+m)%3==0
    (else v1, whose datum resolves through int->long promotion and
    the b=5 default) and framed Confluent-style when (i+m)%2==0
    (else Avro single-object). Stripes: every 13th id frames one
    message with unregistered schema id 9 (refused); every
    17th-miss id flips one bit of a single-object fingerprint
    (refused); every 19th-miss id points the registry's ``latest``
    at a version that does not exist (refused)."""
    import json as _json

    from gmall_flink_210726_spark.operators.avro import (
        _enc_datum,
        encode_single_object,
    )
    from gmall_flink_210726_spark.operators.tar import (
        _BLOCK,
        _make_header,
    )

    n_msgs = 12 + i % 9
    # the lies must land on a message of the matching framing
    last_conf = max(m for m in range(n_msgs) if (i + m) % 2 == 0)
    last_so = max(m for m in range(n_msgs) if (i + m) % 2 == 1)
    values = []
    for m in range(n_msgs):
        a = (3 * i + 7 * m) % 1000
        is_v2 = (i + m) % 3 == 0
        if is_v2:
            datum_schema, datum = _REG_V2, {
                "a": a,
                "b": (5 * i + 11 * m) % 100,
            }
        else:
            datum_schema, datum = _REG_V1, {"a": a}
        if (i + m) % 2 == 0:
            sid = 2 if is_v2 else 1
            if i % 13 == 0 and m == last_conf:
                sid = 9  # unregistered
            v = (
                b"\x00"
                + struct.pack(">I", sid)
                + _enc_datum(datum_schema, datum)
            )
        else:
            v = bytearray(encode_single_object(datum_schema, datum))
            if i % 17 == 0 and i % 13 != 0 and m == last_so:
                v[2] ^= 0x01  # fingerprint lie
            v = bytes(v)
        values.append(v)
    parts = []
    base = 0
    while base < n_msgs:
        chunk = values[base : base + 5]
        recs = b"".join(
            _enc_value_record(j, str(base + j).encode(), v)
            for j, v in enumerate(chunk)
        )
        parts.append(_enc_batch(base, recs, len(chunk), 0, -1))
        base += len(chunk)
    latest = 2
    if i % 19 == 0 and i % 13 != 0 and i % 17 != 0:
        latest = 3  # dangling latest pointer
    registry = _json.dumps(
        {
            "subject": "events-value",
            "latest": latest,
            "versions": {
                "1": {"id": 1, "schema": _REG_V1},
                "2": {"id": 2, "schema": _REG_V2},
            },
        }
    ).encode()
    members = [
        ("registry.json", registry),
        ("00000000000000000000.log", b"".join(parts)),
    ]
    out = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        out.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(out) + b"\x00" * (2 * _BLOCK)


def synthesize_kafka_registry_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of registry+segment tars."""
    from gmall_flink_210726_spark.operators.multimodal import MEDIA_SCHEMA
    from gmall_flink_210726_spark.session import (
        ensure_parallelism,
        ship_package,
    )

    ship_package(docs.sparkSession)
    sel = docs.select("doc_id")
    # partitions: stream twins pin the src file count here, BEFORE
    # blob synthesis, so only doc ids are ever shuffled (guide §8)
    docs = sel.repartition(partitions) if partitions else ensure_parallelism(sel)

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [
                        _make_kafka_registry_tar(int(x)) for x in ids
                    ],
                    "meta": [
                        {
                            "format": "kafka",
                            "width": 0,
                            "height": 0,
                            "sample_rate": 0,
                        }
                        for _ in ids
                    ],
                }
            )

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# Time index (.timeindex): seek-by-timestamp — the second of the
# broker's two segment indexes (the offset index is above). Entries
# are (timestamp i64 BE, relativeOffset i32 BE), timestamps strictly
# ascending; each entry must name a real batch's maxTimestamp and
# that batch's last offset, and every batch header's maxTimestamp
# must equal its RECORDS' actual maximum (firstTimestamp + delta) —
# a header that lies about its max silently breaks every time seek.
# --------------------------------------------------------------------------

_TS0 = 1_700_000_000_000


def read_kafka_time_lookup(data: bytes, target_rel_ts: int) -> dict | None:
    """Tar(segment.log, segment.timeindex) -> seek proof for the
    FIRST record with timestamp >= _TS0 + target_rel_ts (Kafka's
    offsetsForTimes contract); None on any index/framing/books
    violation or a target past the segment's last timestamp."""
    from gmall_flink_210726_spark.operators.wds import _iter_tar_members

    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    log = files.get("segment.log")
    idx = files.get("segment.timeindex")
    if log is None or idx is None or len(idx) % 12:
        return None
    # batch walk with per-batch record timestamps + max verification
    batches = []  # (base_off, last_off, max_ts, [(ts, off, value)])
    try:
        for pos, base_off, attrs, last_od, _pid, rcount, body in (
            _iter_batches(log)
        ):
            if attrs & 0x20:
                return None
            (first_ts, max_ts) = struct.unpack_from(
                ">qq", log, pos + 27
            )
            recs = _parse_v2_records(body, rcount)
            if recs is None or rcount != last_od + 1:
                return None
            rows = [
                (first_ts + r["ts_delta"], base_off + k, r["value"])
                for k, r in enumerate(recs)
            ]
            if max(ts for ts, _o, _v in rows) != max_ts:
                return None  # header maxTimestamp must be true
            batches.append(
                (base_off, base_off + last_od, max_ts, rows)
            )
    except (ValueError, struct.error):
        return None
    if not batches:
        return None
    by_last = {last: mx for _b, last, mx, _r in batches}
    entries = [
        struct.unpack_from(">qi", idx, o)
        for o in range(0, len(idx), 12)
    ]
    seg_base = batches[0][0]
    prev_ts = -1
    prev_off = -1
    for ts, rel in entries:
        if ts <= prev_ts or rel <= prev_off:
            return None  # strictly ascending in both fields
        mx = by_last.get(seg_base + rel)
        if mx is None or mx != ts:
            return None  # entry must name a batch's true maxTimestamp
        prev_ts, prev_off = ts, rel
    target = _TS0 + target_rel_ts
    # floor entry: the last one with timestamp <= target
    start_off = seg_base
    for ts, rel in entries:
        if ts <= target:
            start_off = seg_base + rel
        else:
            break
    scanned = 0
    for base_off, last_off, _mx, rows in batches:
        if last_off < start_off:
            continue
        scanned += 1
        for ts, off, v in rows:
            if ts >= target:
                if v is None or v[:1] != b"v" or not v[1:].isdigit():
                    return None
                return {
                    "n_entries": len(entries),
                    "n_batches": len(batches),
                    "batches_scanned": scanned,
                    "found_offset": off,
                    "found_ts_rel": ts - _TS0,
                    "payload": int(v[1:]),
                }
    return None  # target past the segment's last timestamp


KAFKA_TIDX_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_entries", LongType()),
        StructField("n_batches", LongType()),
        StructField("batches_scanned", LongType()),
        StructField("found_offset", LongType()),
        StructField("found_ts_rel", LongType()),
        StructField("payload", LongType()),
    ]
)


def kafka_time_lookup_stats(
    df: DataFrame, target_rel_ts: int
) -> DataFrame:
    """Time-index seek over MEDIA_SCHEMA tar blobs."""
    from gmall_flink_210726_spark.session import ship_package

    ship_package(df.sparkSession)
    cols = [f.name for f in KAFKA_TIDX_SCHEMA.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                row = {c: 0 for c in cols}
                row.update(media_id=int(mid), format="unknown")
                b = bytes(blob) if blob is not None else b""
                try:
                    st = read_kafka_time_lookup(b, target_rel_ts)
                except Exception:
                    st = None
                if st is not None:
                    row.update(format="kafka", **st)
                out.append(row)
            yield pd.DataFrame(out, columns=cols)

    return df.select("media_id", "content").mapInPandas(
        gen, KAFKA_TIDX_SCHEMA
    )


def _tidx_ts_rel(i: int, off: int) -> int:
    return 100 * off + i % 50


def _tidx_payload(i: int, off: int) -> int:
    return (5 * i + 7 * off) % 1000


def _make_kafka_timeindexed_segment(i: int) -> bytes:
    """Tar(segment.log, segment.timeindex): ``3 + i % 4`` batches of
    ``2 + (i+b) % 4`` records; record at global offset o carries
    timestamp _TS0 + 100*o + i%50 and payload 'v<(5i+7o)%1000>'. The
    index is sparse (every second batch). Lies: every 13th id's
    first index entry claims maxTimestamp+1 (no batch has that
    timestamp - refused); every 17th-miss id's last batch HEADER
    overstates maxTimestamp (the records prove it - refused); every
    19th-miss id swaps two entries (non-monotonic - refused)."""
    from gmall_flink_210726_spark.operators.tar import (
        _BLOCK,
        _make_header,
    )

    parts: list[bytes] = []
    entries: list[tuple[int, int]] = []
    base_off = 0
    nb = 3 + i % 4
    for b in range(nb):
        rcount = 2 + (i + b) % 4
        first_ts = _TS0 + _tidx_ts_rel(i, base_off)
        max_ts = _TS0 + _tidx_ts_rel(i, base_off + rcount - 1)
        recs = b"".join(
            _enc_ts_record(
                _tidx_ts_rel(i, base_off + r)
                - _tidx_ts_rel(i, base_off),
                r,
                b"v%d" % _tidx_payload(i, base_off + r),
            )
            for r in range(rcount)
        )
        hdr_max = max_ts
        if i % 17 == 0 and i % 13 != 0 and b == nb - 1:
            hdr_max += 1  # header lie: records prove it
        parts.append(
            _enc_batch(
                base_off, recs, rcount, 0, -1, 0, first_ts, hdr_max
            )
        )
        if b % 2 == 0:
            entries.append((hdr_max, base_off + rcount - 1))
        base_off += rcount
    if i % 13 == 0:
        entries[0] = (entries[0][0] + 1, entries[0][1])
    elif i % 19 == 0 and i % 17 != 0 and len(entries) >= 2:
        entries[0], entries[1] = entries[1], entries[0]
    log = b"".join(parts)
    idx = b"".join(struct.pack(">qi", t, r) for t, r in entries)
    out = []
    for name, payload in (
        ("segment.log", log),
        ("segment.timeindex", idx),
    ):
        pad = (-len(payload)) % _BLOCK
        out.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(out) + b"\x00" * (2 * _BLOCK)


def _enc_ts_record(ts_delta: int, rel: int, value: bytes) -> bytes:
    body = bytearray(b"\x00")
    body += _zz_enc(ts_delta)
    body += _zz_enc(rel)
    body += _zz_enc(-1)  # null key
    body += _zz_enc(len(value)) + value
    body += _zz_enc(0)
    return _zz_enc(len(body)) + bytes(body)


def synthesize_kafka_timeindexed_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of (segment.log, segment.timeindex) tars."""
    from gmall_flink_210726_spark.operators.multimodal import MEDIA_SCHEMA
    from gmall_flink_210726_spark.session import (
        ensure_parallelism,
        ship_package,
    )

    ship_package(docs.sparkSession)
    sel = docs.select("doc_id")
    # partitions: stream twins pin the src file count here, BEFORE
    # blob synthesis, so only doc ids are ever shuffled (guide §8)
    docs = sel.repartition(partitions) if partitions else ensure_parallelism(sel)

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [
                        _make_kafka_timeindexed_segment(int(x))
                        for x in ids
                    ],
                    "meta": [
                        {
                            "format": "kafka",
                            "width": 0,
                            "height": 0,
                            "sample_rate": 0,
                        }
                        for _ in ids
                    ],
                }
            )

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


# --------------------------------------------------------------------------
# Log compaction (the Kafka cleaner's contract).  A compacted topic
# retains, below the cleaner checkpoint, AT MOST ONE record per key
# (the latest), with original offsets preserved — so cleaned batches
# carry GAPPED offset deltas — plus retained tombstones (null value)
# for deleted keys; above the checkpoint the dirty head still holds
# duplicates.  Reading table state = latest record per key across the
# whole log, tombstone-wins-then-drops — the same latest-wins-upsert
# semantic as the reference's dim sink (DimSinkFunction.java:28-72)
# and the Hudi MOR merge (operators/hudi.py), here at the broker's
# own storage layer.  Trust chain: batch CRC32C (shared walk),
# per-batch strictly increasing gapped offsets, segment file names
# matching their first base offset, the checkpoint within log range,
# and the compaction contract itself — a duplicate key below the
# checkpoint means the cleaner's books are lying; a compacted topic
# also requires every record to carry a key.
# --------------------------------------------------------------------------


def read_kafka_compacted(data: bytes) -> dict | None:
    """Tar(cleaner-offset-checkpoint, *.log) -> compacted table
    state; None on any violation (section doc)."""
    from gmall_flink_210726_spark.operators.wds import _iter_tar_members

    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    ckpt = files.get("cleaner-offset-checkpoint")
    if ckpt is None:
        return None
    try:
        lines = ckpt.decode("ascii").strip().split("\n")
        if len(lines) != 3 or lines[0] != "0" or lines[1] != "1":
            return None
        topic, part, boundary_s = lines[2].split(" ")
        boundary = int(boundary_s)
        if part != "0" or boundary < 0:
            return None
    except (UnicodeDecodeError, ValueError):
        return None
    segs = []
    for name, payload in files.items():
        if not name.endswith(".log"):
            continue
        base = name[: -len(".log")]
        if len(base) != 20 or not base.isdigit():
            return None
        segs.append((int(base), payload))
    if not segs:
        return None
    segs.sort()
    state: dict[bytes, bytes | None] = {}
    n_records = n_tombstones = clean_records = 0
    last_abs = -1
    clean_keys: set[bytes] = set()
    try:
        for base_name, payload in segs:
            first_batch = True
            for (
                _pos,
                base_off,
                _attrs,
                last_od,
                _pid,
                rcount,
                body,
            ) in _iter_batches(payload):
                if first_batch:
                    if base_off != base_name:
                        return None  # file name vs first batch
                    first_batch = False
                recs = _parse_v2_records(body, rcount, dense=False)
                if recs is None:
                    return None
                if recs and recs[-1]["off_delta"] != last_od:
                    return None  # the batch header's own books
                for rec in recs:
                    abs_off = base_off + rec["off_delta"]
                    if abs_off <= last_abs:
                        return None  # offsets increase across log
                    last_abs = abs_off
                    key = rec["key"]
                    if key is None:
                        return None  # compacted topics require keys
                    n_records += 1
                    if abs_off < boundary:
                        clean_records += 1
                        if key in clean_keys:
                            return None  # compaction contract
                        clean_keys.add(key)
                    if rec["value"] is None:
                        n_tombstones += 1
                        state[key] = None
                    else:
                        state[key] = rec["value"]
    except (ValueError, struct.error):
        return None
    if boundary > last_abs + 1:
        return None  # checkpoint past the log end
    live = {k: v for k, v in state.items() if v is not None}
    vsum = 0
    for v in live.values():
        if v[:1] != b"v" or not v[1:].isdigit():
            return None
        vsum += int(v[1:])
    return {
        "n_segments": len(segs),
        "n_records": n_records,
        "n_tombstones": n_tombstones,
        "clean_records": clean_records,
        "live_keys": len(live),
        "value_sum": vsum,
    }


COMPACT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_segments", LongType()),
        StructField("n_records", LongType()),
        StructField("n_tombstones", LongType()),
        StructField("clean_records", LongType()),
        StructField("live_keys", LongType()),
        StructField("value_sum", LongType()),
    ]
)


def kafka_compacted_stats(df: DataFrame) -> DataFrame:
    """Compacted-topic state read over MEDIA_SCHEMA blobs."""
    from gmall_flink_210726_spark.session import ship_package

    ship_package(df.sparkSession)
    cols = [f.name for f in COMPACT_SCHEMA.fields]

    def gen(batches):
        for pdf in batches:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                row = {c: 0 for c in cols}
                row.update(media_id=int(mid), format="unknown")
                b = bytes(blob) if blob is not None else b""
                try:
                    st = read_kafka_compacted(b)
                except Exception:
                    st = None
                if st is not None:
                    row.update(format="kafka-compacted", **st)
                out.append(row)
            yield pd.DataFrame(out, columns=cols)

    return df.select("media_id", "content").mapInPandas(
        gen, COMPACT_SCHEMA
    )


def _cmp_nkeys(i: int) -> int:
    return 8 + i % 8


def _cmp_ndirty(i: int) -> int:
    return 6 + i % 6


def _cmp_clean_v(i: int, k: int) -> int:
    return (11 * i + 7 * k) % 1000


def _cmp_dirty_v(i: int, j: int) -> int:
    return (13 * i + 5 * j) % 1000


def _enc_kv_record(
    rel: int, key: bytes, value: bytes | None
) -> bytes:
    """One v2 record frame; ``value=None`` is a tombstone (varint -1
    value length — the broker's delete marker)."""
    body = bytearray(b"\x00")
    body += _zz_enc(rel)  # timestampDelta
    body += _zz_enc(rel)  # offsetDelta
    body += _zz_enc(len(key)) + key
    if value is None:
        body += _zz_enc(-1)
    else:
        body += _zz_enc(len(value)) + value
    body += _zz_enc(0)  # headers
    return _zz_enc(len(body)) + bytes(body)


def _make_kafka_compacted_tar(i: int) -> bytes:
    """Two segments + cleaner checkpoint: the CLEANED segment holds
    one record per key ``k`` in 0..nkeys-1 at gapped original
    offsets ``3k + i%3`` (a retained tombstone for ``k % 7 == 3``);
    the dirty head at base ``B`` (= one past the last clean offset,
    also the checkpoint) appends ``6 + i%6`` records at dense
    offsets, key ``(i + 2j) % nkeys``, tombstone when ``j % 5 == 4``.
    Lies: every 13th id duplicates a key in the clean section
    (compaction contract refused); every 17th-miss id checkpoints
    past the log end (refused); every 19th-miss id flips a
    CRC-covered byte in the dirty segment (refused)."""
    from gmall_flink_210726_spark.operators.tar import (
        _BLOCK,
        _make_header,
    )

    nk = _cmp_nkeys(i)
    nd = _cmp_ndirty(i)
    clean_records = b""
    n_clean = 0
    last_rel = 0
    for k in range(nk):
        rel = 3 * k + i % 3
        key = b"k%d" % k
        if i % 13 == 0 and k == nk - 1:
            key = b"k0"  # duplicate key in the clean section
        value = (
            None
            if k % 7 == 3
            else b"v%d" % _cmp_clean_v(i, k)
        )
        clean_records += _enc_kv_record(rel, key, value)
        n_clean += 1
        last_rel = rel
    clean_batch = _enc_batch_sparse(0, clean_records, n_clean, last_rel)
    base = last_rel + 1
    dirty_records = b""
    for j in range(nd):
        key = b"k%d" % ((i + 2 * j) % nk)
        value = (
            None if j % 5 == 4 else b"v%d" % _cmp_dirty_v(i, j)
        )
        dirty_records += _enc_kv_record(j, key, value)
    dirty_seg = _enc_batch(base, dirty_records, nd, 0, -1)
    if i % 19 == 0 and i % 13 != 0 and i % 17 != 0:
        # flip a CRC-covered byte: 12-byte frame header + 9 bytes in
        # (attributes region), well inside any batch's covered span
        flip = 12 + 9
        dirty_seg = (
            dirty_seg[:flip]
            + bytes([dirty_seg[flip] ^ 0x40])
            + dirty_seg[flip + 1 :]
        )
    boundary = base
    if i % 17 == 0 and i % 13 != 0:
        boundary = base + nd + 5  # past the log end
    ckpt = ("0\n1\nevents 0 %d\n" % boundary).encode()
    members = [
        ("cleaner-offset-checkpoint", ckpt),
        ("%020d.log" % 0, clean_batch),
        ("%020d.log" % base, dirty_seg),
    ]
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def _enc_batch_sparse(
    base_off: int, records: bytes, rcount: int, last_od: int
) -> bytes:
    """RecordBatch v2 frame whose lastOffsetDelta reflects GAPPED
    cleaned offsets (last_od >= rcount - 1)."""
    mid = struct.pack(
        ">hiqqqhii",
        0,
        last_od,
        1700000000000,
        1700000000000 + last_od,
        -1,
        -1,
        -1,
        rcount,
    ) + records
    return struct.pack(
        ">qiibI",
        base_off,
        4 + 1 + 4 + len(mid),
        0,
        2,
        crc32c(mid),
    ) + mid


def synthesize_kafka_compacted_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of compacted-topic log dirs."""
    from gmall_flink_210726_spark.operators.multimodal import MEDIA_SCHEMA
    from gmall_flink_210726_spark.session import (
        ensure_parallelism,
        ship_package,
    )

    ship_package(docs.sparkSession)
    sel = docs.select("doc_id")
    # partitions: stream twins pin the src file count here, BEFORE
    # blob synthesis, so only doc ids are ever shuffled (guide §8)
    docs = sel.repartition(partitions) if partitions else ensure_parallelism(sel)

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [
                        _make_kafka_compacted_tar(int(x))
                        for x in ids
                    ],
                    "meta": [
                        {
                            "format": "kafka",
                            "width": 0,
                            "height": 0,
                            "sample_rate": 0,
                        }
                        for _ in ids
                    ],
                }
            )

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)
