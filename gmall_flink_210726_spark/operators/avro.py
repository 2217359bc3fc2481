"""Avro object-container file walk — a from-scratch reader for the
Kafka-ecosystem ingest format (Apache Avro 1.11 spec, public): the
container the gmall reference's topics would carry in production
(Confluent pipelines land Kafka streams as Avro before parquet
compaction; cf. the reference's Kafka plumbing at
gmall-realtime/src/main/java/com/guohaoyu/util/MyKafkaUtil.java:21-48).

Implemented from the spec:

- file header: ``Obj\\x01`` magic, file-metadata MAP (block-framed:
  zigzag-long pair count with the negative-count + byte-size form,
  string keys, bytes values; terminated by count 0) carrying
  ``avro.schema`` (JSON) and ``avro.codec``, then the 16-byte sync
  marker;
- data blocks: zigzag-long record count, zigzag-long byte size, the
  (possibly compressed) serialized records, and the sync marker,
  which MUST equal the header's (a flipped sync byte degrades);
- block codecs: ``null`` passthrough, ``deflate`` = raw DEFLATE
  through the repo's hand inflate, ``snappy`` = the hand snappy
  block decoder + the codec's 4-byte BIG-endian CRC-32 of the
  UNCOMPRESSED data (checked);
- a SCHEMA-DRIVEN value decoder over the parsed ``avro.schema``:
  null / boolean / int / long (zigzag varints) / float / double /
  string / bytes (zigzag-long length prefix) / record / union
  (zigzag branch index, bounds-checked) / array + map (block-framed
  like the metadata map) / enum / fixed;
- cross-checks: every block must decode EXACTLY its declared record
  count and consume its payload exactly; the trailing sync marker
  must match; unions must index a real branch.

All varint/zigzag plumbing is shared with the parquet Thrift walk
(`parquetmeta._Reader`) — Avro longs are the same wire format.
Arrow-batched ``mapInPandas``, zero shuffle.

Fixture files are written by a deliberately separate, minimal
encoder in this module (no Avro library ships in the container);
the deflate codec uses stdlib zlib as the reference ENCODER (the
zstd/LZ4 test precedent: hand decoder proven against a reference
encoder), and the snappy codec emits literal-only frames, which are
valid snappy by construction.
"""

from __future__ import annotations

import json
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.parquetmeta import (
    _Reader,
    snappy_decompress,
)
from gmall_flink_210726_spark.operators.wire import _enc_uvarint, _zz_enc

_MAGIC = b"Obj\x01"


def _bytes(r: _Reader) -> bytes:
    n = r.zigzag()
    if n < 0:
        raise ValueError("avro: negative length")
    return r.take(n)


def _logical_kind(schema) -> tuple[str, str] | None:
    """Return (logicalType, underlying-type-name) when ``schema`` is
    a dict carrying a VALID logical-type annotation (Avro 1.11 spec
    'Logical Types'); None otherwise. Per the spec, an invalid
    annotation (wrong underlying type, bad decimal attributes) is
    IGNORED — the datum decodes as its underlying type."""
    if not isinstance(schema, dict):
        return None
    lt = schema.get("logicalType")
    if not isinstance(lt, str):
        return None
    t = schema.get("type")
    if lt == "decimal":
        if t not in ("bytes", "fixed"):
            return None
        prec = schema.get("precision")
        scale = schema.get("scale", 0)
        if not isinstance(prec, int) or not isinstance(scale, int):
            return None
        if prec <= 0 or scale < 0 or scale > prec:
            return None
        if t == "fixed":
            size = schema.get("size")
            if not isinstance(size, int) or size <= 0:
                return None  # malformed fixed: annotation ignored
            # max precision representable in size bytes (spec rule)
            if prec > len(str(2 ** (8 * size - 1) - 1)):
                return None
        return lt, t
    if lt == "date" and t == "int":
        return lt, t
    if lt == "time-millis" and t == "int":
        return lt, t
    if lt in ("time-micros", "timestamp-millis", "timestamp-micros") \
            and t == "long":
        return lt, t
    if lt == "uuid" and t == "string":
        return lt, t
    return None


_UUID_HEX = set("0123456789abcdefABCDEF")


def _apply_logical(lt: str, schema: dict, raw):
    """Underlying decoded value -> the logical value. Raises on a
    VALUE that violates the logical type's own range rules (a bad
    uuid string, a time past midnight) — unlike a bad annotation,
    a bad value is data corruption, not a schema quirk."""
    import datetime
    import decimal

    if lt == "decimal":
        unscaled = int.from_bytes(raw, "big", signed=True)
        scale = schema.get("scale", 0)
        prec = schema["precision"]
        d = decimal.Decimal(unscaled).scaleb(-scale)
        if len(str(abs(unscaled))) > prec:
            raise ValueError("avro: decimal exceeds declared precision")
        return d
    if lt == "date":
        return datetime.date(1970, 1, 1) + datetime.timedelta(days=raw)
    if lt == "time-millis":
        if not 0 <= raw < 86_400_000:
            raise ValueError("avro: time-millis out of range")
        return datetime.time(
            raw // 3_600_000,
            raw // 60_000 % 60,
            raw // 1000 % 60,
            raw % 1000 * 1000,
        )
    if lt == "time-micros":
        if not 0 <= raw < 86_400_000_000:
            raise ValueError("avro: time-micros out of range")
        return datetime.time(
            raw // 3_600_000_000,
            raw // 60_000_000 % 60,
            raw // 1_000_000 % 60,
            raw % 1_000_000,
        )
    if lt == "timestamp-millis":
        return datetime.datetime(
            1970, 1, 1
        ) + datetime.timedelta(milliseconds=raw)
    if lt == "timestamp-micros":
        return datetime.datetime(
            1970, 1, 1
        ) + datetime.timedelta(microseconds=raw)
    if lt == "uuid":
        s = raw
        if (
            len(s) != 36
            or any(s[p] != "-" for p in (8, 13, 18, 23))
            or any(
                c not in _UUID_HEX
                for j, c in enumerate(s)
                if j not in (8, 13, 18, 23)
            )
        ):
            raise ValueError("avro: malformed uuid string")
        return s.lower()
    raise ValueError(f"avro: unhandled logical type {lt}")


def _decode_value(r: _Reader, schema):
    """Schema-driven Avro datum decode (spec 'Data Serialization'),
    including logical types (valid annotations convert; invalid ones
    are ignored per spec)."""
    if isinstance(schema, list):  # union: zigzag branch index
        idx = r.zigzag()
        if idx < 0 or idx >= len(schema):
            raise ValueError("avro: union branch out of range")
        return _decode_value(r, schema[idx])
    if isinstance(schema, dict):
        lk = _logical_kind(schema)
        if lk is not None:
            lt, under = lk
            raw = _decode_value(r, under if under != "fixed" else {
                "type": "fixed", "size": schema["size"]
            })
            return _apply_logical(lt, schema, raw)
        t = schema.get("type")
        if t == "record":
            return {
                f["name"]: _decode_value(r, f["type"])
                for f in schema["fields"]
            }
        if t == "array":
            out = []
            while True:
                c = r.zigzag()
                if c == 0:
                    return out
                if c < 0:  # negative-count form carries a byte size
                    r.zigzag()
                    c = -c
                out.extend(
                    _decode_value(r, schema["items"]) for _ in range(c)
                )
        if t == "map":
            m = {}
            while True:
                c = r.zigzag()
                if c == 0:
                    return m
                if c < 0:
                    r.zigzag()
                    c = -c
                for _ in range(c):
                    k = _bytes(r).decode("utf-8")
                    m[k] = _decode_value(r, schema["values"])
        if t == "enum":
            idx = r.zigzag()
            syms = schema["symbols"]
            if idx < 0 or idx >= len(syms):
                raise ValueError("avro: enum index out of range")
            return syms[idx]
        if t == "fixed":
            return r.take(int(schema["size"]))
        schema = t  # {"type": "long"} primitive wrapper form
    if schema == "null":
        return None
    if schema == "boolean":
        b = r.byte()
        if b not in (0, 1):
            raise ValueError("avro: bad boolean byte")
        return b == 1
    if schema in ("int", "long"):
        return r.zigzag()
    if schema == "float":
        return struct.unpack("<f", r.take(4))[0]
    if schema == "double":
        return struct.unpack("<d", r.take(8))[0]
    if schema == "string":
        return _bytes(r).decode("utf-8")
    if schema == "bytes":
        return _bytes(r)
    raise ValueError(f"avro: unsupported schema {schema!r}")


def _read_meta_map(r: _Reader) -> dict[bytes, bytes]:
    meta: dict[bytes, bytes] = {}
    while True:
        c = r.zigzag()
        if c == 0:
            return meta
        if c < 0:
            r.zigzag()  # byte size of the block, skippable
            c = -c
        for _ in range(c):
            k = _bytes(r)
            meta[k] = _bytes(r)


def _decompress_block(payload: bytes, codec: str) -> bytes:
    """One data block's codec decode (Avro 1.11 'Required Codecs' +
    the optional ones this repo has hand decoders for). Raises
    ValueError on any codec-layer violation."""
    if codec == "null":
        return payload
    if codec == "deflate":
        from gmall_flink_210726_spark.operators.inflate import inflate

        return inflate(payload)
    if codec == "snappy":
        if len(payload) < 4:
            raise ValueError("avro: snappy block too short")
        (crc,) = struct.unpack(">I", payload[-4:])
        out = snappy_decompress(payload[:-4])
        if zlib.crc32(out) != crc:
            raise ValueError("avro: snappy CRC mismatch")
        return out
    if codec == "zstandard":
        from gmall_flink_210726_spark.operators.zstd import (
            zstd_decompress,
        )

        return zstd_decompress(payload)
    if codec == "bzip2":
        from gmall_flink_210726_spark.operators.bzip2 import (
            bz2_decompress_stream,
        )

        out, endbit = bz2_decompress_stream(payload, 0)
        if (endbit + 7) // 8 != len(payload):
            raise ValueError("avro: bzip2 trailing bytes")
        return out
    if codec == "xz":
        from gmall_flink_210726_spark.operators.xz import (
            xz_decompress_stream,
        )

        plains, _check, end = xz_decompress_stream(payload, 0)
        if end != len(payload):
            raise ValueError("avro: xz trailing bytes")
        return b"".join(plains)
    raise ValueError(f"avro: unsupported codec {codec}")


_CODECS_OK = ("null", "deflate", "snappy", "zstandard", "bzip2", "xz")


def read_avro_container(
    data: bytes,
) -> tuple[list, str, int] | None:
    """Container walk -> (records, codec, n_blocks); None on any
    grammar violation: bad magic, unknown codec, sync mismatch, a
    block that does not decode exactly its declared count, CRC
    failure on a snappy block."""
    if len(data) < 4 or data[:4] != _MAGIC:
        return None
    r = _Reader(data, 4, len(data))
    try:
        meta = _read_meta_map(r)
        sync = r.take(16)
        schema = json.loads(meta[b"avro.schema"].decode("utf-8"))
        codec = meta.get(b"avro.codec", b"null").decode("ascii")
        if codec not in _CODECS_OK:
            return None
        records: list = []
        n_blocks = 0
        while r.pos < r.end:
            count = r.zigzag()
            size = r.zigzag()
            if count <= 0 or size < 0:
                return None
            payload = r.take(size)
            if r.take(16) != sync:
                return None  # corrupt sync marker
            payload = _decompress_block(payload, codec)
            br = _Reader(payload, 0, len(payload))
            for _ in range(count):
                records.append(_decode_value(br, schema))
            if br.pos != br.end:
                return None  # records must consume the block exactly
            n_blocks += 1
    except (ValueError, KeyError, UnicodeDecodeError,
            TypeError, OverflowError):
        return None
    return records, codec, n_blocks


# --------------------------------------------------------------------------
# Fixture writer (minimal, separate from the reader)
# --------------------------------------------------------------------------

_SCHEMA = {
    "type": "record",
    "name": "Event",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "vals", "type": {"type": "array", "items": "long"}},
    ],
}


def _snappy_literal(data: bytes) -> bytes:
    """Literal-only snappy block (valid snappy by construction):
    varint uncompressed length, then <=60-byte literal runs."""
    out = bytearray(_enc_uvarint(len(data)))
    for pos in range(0, len(data), 60):
        chunk = data[pos : pos + 60]
        out.append((len(chunk) - 1) << 2)
        out += chunk
    return bytes(out)


def _enc_record(i: int, r: int) -> bytes:
    out = bytearray(_zz_enc((5 * i + 3 * r) % 1000))
    if (i + r) % 4 == 0:
        out += _zz_enc(0)  # union branch: null
    else:
        s = f"n{(i + 2 * r) % 50}".encode()
        out += _zz_enc(1) + _zz_enc(len(s)) + s
    nv = r % 4
    if nv:
        out += _zz_enc(nv)
        for k in range(nv):
            out += _zz_enc((i + 7 * r + k) % 100)
    out += _zz_enc(0)  # array terminator
    return bytes(out)


def _make_avro(i: int, bad_stripe: int = 9) -> bytes:
    """``8 + i % 40`` records over ``1 + i % 3`` blocks; codec
    rotates ALL SIX spec codecs by id (null/deflate/snappy plus the
    optional zstandard/bzip2/xz through the repo's hand RFC 8878 /
    bzip2 / xz decoders). Every ``bad_stripe``-th id
    gets one byte of the FIRST block's trailing sync marker flipped
    — the reader must notice the mismatch and degrade."""
    n = 8 + i % 40
    g = 1 + i % 3
    codec = (
        "null", "deflate", "snappy", "zstandard", "bzip2", "xz"
    )[i % 6]
    sync = bytes((i * 31 + 7 * k) % 256 for k in range(16))
    schema_json = json.dumps(_SCHEMA).encode()
    head = bytearray(_MAGIC)
    head += _zz_enc(2)
    for k, v in (
        (b"avro.schema", schema_json),
        (b"avro.codec", codec.encode()),
    ):
        head += _zz_enc(len(k)) + k + _zz_enc(len(v)) + v
    head += _zz_enc(0)
    head += sync
    out = bytearray(head)
    per = -(-n // g)
    first_sync_at = -1
    for b0 in range(0, n, per):
        recs = list(range(b0, min(b0 + per, n)))
        payload = b"".join(_enc_record(i, r) for r in recs)
        payload = _compress_block(payload, codec)
        out += _zz_enc(len(recs)) + _zz_enc(len(payload)) + payload
        if first_sync_at < 0:
            first_sync_at = len(out)
        out += sync
    if i % bad_stripe == 0:
        out[first_sync_at + 5] ^= 0x40
    return bytes(out)


# --------------------------------------------------------------------------
# Spark surface
# --------------------------------------------------------------------------

AVRO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("codec", StringType()),
        StructField("n_records", LongType()),
        StructField("n_blocks", LongType()),
        StructField("id_sum", LongType()),
        StructField("name_count", LongType()),
        StructField("name_len_sum", LongType()),
        StructField("vals_count", LongType()),
        StructField("vals_sum", LongType()),
    ]
)


def _avro_walk(b: bytes) -> dict | None:
    got = read_avro_container(b)
    if got is None:
        return None
    records, codec, n_blocks = got
    return dict(
        codec=codec,
        n_records=len(records),
        n_blocks=n_blocks,
        id_sum=sum(rec["id"] for rec in records),
        name_count=sum(1 for rec in records if rec["name"] is not None),
        name_len_sum=sum(
            len(rec["name"]) for rec in records if rec["name"] is not None
        ),
        vals_count=sum(len(rec["vals"]) for rec in records),
        vals_sum=sum(sum(rec["vals"]) for rec in records),
    )


def avro_container_stats(df: DataFrame) -> DataFrame:
    """Hand-decoded Avro object-container walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, _avro_walk, AVRO_SCHEMA, "avro")


def synthesize_avro_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of Avro object-container files."""
    return synthesize_blobs(docs, _make_avro, blob_meta("avro"), partitions)


# --------------------------------------------------------------------------
# Generic encoder (fixture side): the inverse of _decode_value for the
# types the repo's Avro fixtures use — lets other operators (e.g. the
# Iceberg metadata walk) synthesize real containers from any schema.
# --------------------------------------------------------------------------


def _enc_datum(schema, v) -> bytes:
    if isinstance(schema, list):  # union: pick the branch by nullness
        for idx, br in enumerate(schema):
            if (br == "null") == (v is None):
                return _zz_enc(idx) + (
                    b"" if v is None else _enc_datum(br, v)
                )
        raise ValueError("avro encode: no union branch fits")
    if isinstance(schema, dict):
        t = schema.get("type")
        if t == "record":
            return b"".join(
                _enc_datum(f["type"], v[f["name"]])
                for f in schema["fields"]
            )
        if t == "array":
            out = b""
            if v:
                out += _zz_enc(len(v))
                out += b"".join(
                    _enc_datum(schema["items"], x) for x in v
                )
            return out + _zz_enc(0)
        if t == "map":
            out = b""
            if v:
                out += _zz_enc(len(v))
                for k, x in v.items():
                    kb = k.encode("utf-8")
                    out += _zz_enc(len(kb)) + kb
                    out += _enc_datum(schema["values"], x)
            return out + _zz_enc(0)
        if t == "fixed":
            if len(v) != int(schema["size"]):
                raise ValueError("avro encode: fixed size mismatch")
            return v
        schema = t
    if schema == "null":
        return b""
    if schema == "boolean":
        return b"\x01" if v else b"\x00"
    if schema in ("int", "long"):
        return _zz_enc(int(v))
    if schema == "double":
        return struct.pack("<d", float(v))
    if schema == "string":
        b = v.encode("utf-8")
        return _zz_enc(len(b)) + b
    if schema == "bytes":
        return _zz_enc(len(v)) + v
    raise ValueError(f"avro encode: unsupported {schema!r}")


def _compress_block(payload: bytes, codec: str) -> bytes:
    """Writer-side twin of _decompress_block (fixtures only)."""
    if codec == "null":
        return payload
    if codec == "deflate":
        c = zlib.compressobj(6, zlib.DEFLATED, -15)
        return c.compress(payload) + c.flush()
    if codec == "snappy":
        crc = struct.pack(">I", zlib.crc32(payload))
        return _snappy_literal(payload) + crc
    if codec == "zstandard":
        import pyarrow as pa

        return bytes(pa.Codec("zstd").compress(payload))
    if codec == "bzip2":
        import bz2 as _bz2

        return _bz2.compress(payload, 9)
    if codec == "xz":
        import lzma as _lzma

        return _lzma.compress(
            payload, format=_lzma.FORMAT_XZ, check=_lzma.CHECK_CRC64
        )
    raise ValueError(f"avro encode: unsupported codec {codec}")


def make_avro_container(
    schema: dict,
    records: list,
    codec: str = "null",
    sync: bytes = b"\x00" * 16,
    per_block: int = 1000,
) -> bytes:
    """Render a complete object-container file for any schema the
    generic encoder covers (round-trip-pinned against the reader)."""
    schema_json = json.dumps(schema).encode()
    out = bytearray(_MAGIC)
    out += _zz_enc(2)
    for k, v in (
        (b"avro.schema", schema_json),
        (b"avro.codec", codec.encode()),
    ):
        out += _zz_enc(len(k)) + k + _zz_enc(len(v)) + v
    out += _zz_enc(0)
    out += sync
    for b0 in range(0, len(records), per_block):
        recs = records[b0 : b0 + per_block]
        payload = b"".join(_enc_datum(schema, r) for r in recs)
        payload = _compress_block(payload, codec)
        out += _zz_enc(len(recs)) + _zz_enc(len(payload)) + payload
        out += sync
    return bytes(out)


# --------------------------------------------------------------------------
# Schema resolution (spec 'Schema Resolution'): reader vs writer schema
# --------------------------------------------------------------------------

_PROMOTIONS = {
    ("int", "long"), ("int", "float"), ("int", "double"),
    ("long", "float"), ("long", "double"), ("float", "double"),
    ("string", "bytes"), ("bytes", "string"),
}


def _type_name(schema) -> str:
    if isinstance(schema, dict):
        return schema.get("type", "")
    if isinstance(schema, str):
        return schema
    return "union"


def _json_default(schema, dv):
    """Interpret a reader field's JSON default per its type (for a
    union, the default applies to the FIRST branch, per spec)."""
    if isinstance(schema, list):
        return _json_default(schema[0], dv)
    t = _type_name(schema)
    if t == "null":
        return None
    if t in ("int", "long"):
        return int(dv)
    if t in ("float", "double"):
        return float(dv)
    if t == "string":
        return str(dv)
    if t == "bytes":
        return str(dv).encode("latin-1")
    if t == "boolean":
        return bool(dv)
    if t == "array":
        return [_json_default(schema["items"], x) for x in dv]
    raise ValueError(f"avro: unsupported default for {t}")


def _decode_resolved(r: _Reader, wsch, rsch):
    """Decode per the WRITER schema, shaped per the READER schema
    (Avro spec 'Schema Resolution'): record fields matched by NAME
    (extra writer fields decoded and discarded, missing reader
    fields filled from their defaults — no default is an error),
    primitive promotions (int>long>float>double, string<->bytes),
    unions resolved branch-wise. Raises ValueError on any mismatch."""
    if isinstance(wsch, list):  # writer union: pick the branch first
        idx = r.zigzag()
        if idx < 0 or idx >= len(wsch):
            raise ValueError("avro: union branch out of range")
        return _decode_resolved(r, wsch[idx], rsch)
    if isinstance(rsch, list):  # reader union: first matching branch
        wname = _type_name(wsch)
        for br in rsch:
            bn = _type_name(br)
            if bn == wname or (wname, bn) in _PROMOTIONS:
                return _decode_resolved(r, wsch, br)
        raise ValueError("avro: no reader union branch matches")
    rlk = _logical_kind(rsch)
    if rlk is not None:
        # A reader that DECLARES a logical type demands the writer
        # wrote that logical type: promoting a plain writer int/long
        # into a reader timestamp would mint times out of raw
        # numbers — refuse. (Schema resolution in the spec matches
        # underlying types; this reader is deliberately stricter
        # where silence would fabricate semantics.) Decimal must
        # also agree on precision and scale — the same digits under
        # a different scale are a different number.
        wlk = _logical_kind(wsch)
        if wlk is None or wlk[0] != rlk[0]:
            raise ValueError(
                "avro: reader logical type "
                f"{rlk[0]} not written by the writer"
            )
        if rlk[0] == "decimal" and (
            wsch.get("precision") != rsch.get("precision")
            or wsch.get("scale", 0) != rsch.get("scale", 0)
        ):
            raise ValueError("avro: decimal precision/scale mismatch")
        return _decode_value(r, wsch)
    wt, rt = _type_name(wsch), _type_name(rsch)
    if wt == "record" and rt == "record":
        rfields = {f["name"]: f for f in rsch["fields"]}
        out = {}
        seen = set()
        for wf in wsch["fields"]:
            name = wf["name"]
            if name in rfields:
                out[name] = _decode_resolved(
                    r, wf["type"], rfields[name]["type"]
                )
                seen.add(name)
            else:  # extra writer field: consume and discard
                _decode_value(r, wf["type"])
        for rf in rsch["fields"]:
            if rf["name"] not in seen:
                if "default" not in rf:
                    raise ValueError(
                        f"avro: field {rf['name']} missing with no default"
                    )
                out[rf["name"]] = _json_default(
                    rf["type"], rf["default"]
                )
        return out
    if wt == "array" and rt == "array":
        out = []
        while True:
            c = r.zigzag()
            if c == 0:
                return out
            if c < 0:
                r.zigzag()
                c = -c
            out.extend(
                _decode_resolved(r, wsch["items"], rsch["items"])
                for _ in range(c)
            )
    if wt == "map" and rt == "map":
        m = {}
        while True:
            c = r.zigzag()
            if c == 0:
                return m
            if c < 0:
                r.zigzag()
                c = -c
            for _ in range(c):
                k = _bytes(r).decode("utf-8")
                m[k] = _decode_resolved(
                    r, wsch["values"], rsch["values"]
                )
    if wt == rt:
        return _decode_value(r, wsch)
    if (wt, rt) in _PROMOTIONS:
        v = _decode_value(r, wsch)
        if rt in ("float", "double"):
            return float(v)
        if rt == "long":
            return int(v)
        if rt == "bytes":
            return v.encode("utf-8")
        if rt == "string":
            return v.decode("utf-8")
    raise ValueError(f"avro: cannot resolve writer {wt} as reader {rt}")


def read_avro_resolved(
    data: bytes, reader_schema: dict
) -> tuple[list, str, int] | None:
    """Container walk decoding every record against ``reader_schema``
    (schema evolution: the reader's view of old data); None on any
    container violation or unresolvable schema pair."""
    if len(data) < 4 or data[:4] != _MAGIC:
        return None
    r = _Reader(data, 4, len(data))
    try:
        meta = _read_meta_map(r)
        sync = r.take(16)
        wschema = json.loads(meta[b"avro.schema"].decode("utf-8"))
        codec = meta.get(b"avro.codec", b"null").decode("ascii")
        if codec not in _CODECS_OK:
            return None
        records: list = []
        n_blocks = 0
        while r.pos < r.end:
            count = r.zigzag()
            size = r.zigzag()
            if count <= 0 or size < 0:
                return None
            payload = r.take(size)
            if r.take(16) != sync:
                return None
            payload = _decompress_block(payload, codec)
            br = _Reader(payload, 0, len(payload))
            for _ in range(count):
                records.append(
                    _decode_resolved(br, wschema, reader_schema)
                )
            if br.pos != br.end:
                return None
            n_blocks += 1
    except (ValueError, KeyError, UnicodeDecodeError,
            TypeError, OverflowError):
        return None
    return records, codec, n_blocks


# --------------------------------------------------------------------------
# Evolution fixture: v1-writer containers read through a v2 reader
# --------------------------------------------------------------------------

READER_V2 = {
    "type": "record",
    "name": "Event",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "qty", "type": "long"},  # promoted from writer int
        {"name": "name", "type": ["null", "string"]},  # NO default
        {"name": "score", "type": "long", "default": 7},
    ],
}


def _writer_schema_v1(with_name: bool) -> dict:
    fields = [
        {"name": "id", "type": "long"},
        {"name": "qty", "type": "int"},
    ]
    if with_name:
        fields.append({"name": "name", "type": ["null", "string"]})
    fields.append(
        {"name": "vals", "type": {"type": "array", "items": "long"}}
    )
    return {"type": "record", "name": "Event", "fields": fields}


def _make_avro_v1(i: int, bad_stripe: int = 10) -> bytes:
    """v1-writer container: id long, qty INT (the reader promotes it
    to long), name nullable string, vals array (the reader DROPS it
    — the skip path must still consume the bytes exactly). Every
    ``bad_stripe``-th id's writer omits ``name`` — a perfectly valid
    container on its own that the v2 READER must refuse (its name
    field has no default)."""
    with_name = i % bad_stripe != 0
    n = 6 + i % 30
    recs = []
    for r in range(n):
        rec = {
            "id": (5 * i + 3 * r) % 1000,
            "qty": (i + 2 * r) % 50,
            "vals": [(i + r + k) % 30 for k in range(r % 3)],
        }
        if with_name:
            rec["name"] = (
                None if (i + r) % 4 == 0 else f"n{(i + 2 * r) % 50}"
            )
        recs.append(rec)
    return make_avro_container(
        _writer_schema_v1(with_name),
        recs,
        codec=("null", "deflate", "snappy")[i % 3],
        sync=bytes((i * 37 + 11 * k) % 256 for k in range(16)),
        per_block=max(1, n // (1 + i % 3)),
    )


AVRO_EVO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_records", LongType()),
        StructField("id_sum", LongType()),
        StructField("qty_sum", LongType()),
        StructField("name_count", LongType()),
        StructField("name_len_sum", LongType()),
        StructField("score_sum", LongType()),
    ]
)


def _avro_evo_walk(b: bytes) -> dict | None:
    got = read_avro_resolved(b, READER_V2)
    if got is None:
        return None
    records, _, _ = got
    return dict(
        n_records=len(records),
        id_sum=sum(rec["id"] for rec in records),
        qty_sum=sum(rec["qty"] for rec in records),
        name_count=sum(1 for rec in records if rec["name"] is not None),
        name_len_sum=sum(
            len(rec["name"]) for rec in records if rec["name"] is not None
        ),
        score_sum=sum(rec["score"] for rec in records),
    )


def avro_evolution_stats(df: DataFrame) -> DataFrame:
    """Reader-schema (v2) decode of v1-writer containers."""
    return blob_stats(df, _avro_evo_walk, AVRO_EVO_SCHEMA, "avro")


def synthesize_avro_v1_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of v1-writer Avro containers."""
    return synthesize_blobs(docs, _make_avro_v1, blob_meta("avro"), partitions)


# --------------------------------------------------------------------------
# Logical-type fixture (Avro 1.11 'Logical Types'): decimal over
# bytes AND fixed, date, timestamp-micros, uuid — the annotations
# real Kafka-ecosystem payloads and Iceberg manifest fields carry.
# --------------------------------------------------------------------------


def _logical_schema(i: int) -> dict:
    """Every 6th id annotates the date field's int as decimal — an
    INVALID annotation (decimal only annotates bytes/fixed) that the
    spec says to IGNORE, so the field decodes as its plain int."""
    d_field: dict = {"type": "int", "logicalType": "date"}
    if i % 6 == 0:
        d_field = {"type": "int", "logicalType": "decimal",
                   "precision": 4}
    return {
        "type": "record",
        "name": "Txn",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "price", "type": {
                "type": "bytes", "logicalType": "decimal",
                "precision": 9, "scale": 2}},
            {"name": "qty", "type": {
                "type": "fixed", "name": "Qty", "size": 6,
                "logicalType": "decimal",
                "precision": 14, "scale": 4}},
            {"name": "d", "type": d_field},
            {"name": "tus", "type": {
                "type": "long", "logicalType": "timestamp-micros"}},
            {"name": "uid", "type": {
                "type": "string", "logicalType": "uuid"}},
        ],
    }


def _logical_row_raw(i: int, r: int) -> dict:
    """The raw per-record values (encode-side representation)."""
    p = (i * 37 + r * 101) % 2_000_001 - 1_000_000
    q = (i * 53 + r * 997) % 3_000_001 - 1_500_000
    uid = "%08x-0000-4000-8000-%012x" % (
        (i * 2654435761 + r) % 2**32,
        (i + r * 97) % 2**48,
    )
    if i % 13 == 0 and r == 0:
        uid = uid[:14] + "Z" + uid[15:]  # malformed uuid VALUE
    return {
        "id": r,
        "price": p.to_bytes(
            max(1, (p.bit_length() + 8) // 8), "big", signed=True
        ),
        "qty": q.to_bytes(6, "big", signed=True),
        "d": (i + 3 * r) % 20000,
        "tus": 1_600_000_000_000_000
        + (i * 1_000_003 + r * 777) % 10**12,
        "uid": uid,
    }


def _make_avro_logical(i: int) -> bytes:
    """``4 + i % 7`` records, 3 records per block, codec rotating
    i%6 over all six spec codecs. Stripes: every 6th id's date field
    carries the IGNORED invalid decimal annotation; every 13th id's
    first uuid VALUE is malformed (a value lie — degrades); every
    9th id flips a sync-marker byte (container lie — degrades)."""
    schema = _logical_schema(i)
    n = 4 + i % 7
    recs = [_logical_row_raw(i, r) for r in range(n)]
    codec = (
        "null", "deflate", "snappy", "zstandard", "bzip2", "xz"
    )[i % 6]
    blob = bytearray(
        make_avro_container(schema, recs, codec=codec, per_block=3)
    )
    if i % 9 == 0:
        blob[-3] ^= 0x40  # trailing sync marker byte
    return bytes(blob)


AVRO_LOGICAL_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("codec", StringType()),
        StructField("n_records", LongType()),
        StructField("n_blocks", LongType()),
        StructField("price_unscaled_sum", LongType()),
        StructField("qty_unscaled_sum", LongType()),
        StructField("date_min", StringType()),
        StructField("ts_max_iso", StringType()),
        StructField("uuid_first", StringType()),
        StructField("lt_ignored", LongType()),
    ]
)


def _avro_logical_one(i: int, data: bytes) -> dict | None:
    import datetime
    import decimal

    got = read_avro_container(data)
    if got is None:
        return None
    records, codec, n_blocks = got
    if not records:
        return None
    ignored = isinstance(records[0]["d"], int)
    prices = [r["price"] for r in records]
    qtys = [r["qty"] for r in records]
    if not all(isinstance(p, decimal.Decimal) for p in prices + qtys):
        return None  # the annotation was valid; decode must convert
    dmin = min(
        r["d"] if not ignored
        else datetime.date(1970, 1, 1) + datetime.timedelta(days=r["d"])
        for r in records
    )
    tmax = max(r["tus"] for r in records)
    if not isinstance(tmax, datetime.datetime):
        return None
    return {
        "codec": codec,
        "n_records": len(records),
        "n_blocks": n_blocks,
        "price_unscaled_sum": int(
            sum(p.scaleb(2) for p in prices)
        ),
        "qty_unscaled_sum": int(sum(q.scaleb(4) for q in qtys)),
        "date_min": dmin.isoformat(),
        "ts_max_iso": tmax.strftime("%Y-%m-%dT%H:%M:%S.%f"),
        "uuid_first": records[0]["uid"],
        "lt_ignored": int(ignored),
    }


def avro_logical_stats(df: DataFrame) -> DataFrame:
    """Logical-type container decode over MEDIA_SCHEMA blobs."""
    return blob_stats(
        df,
        lambda b, mid: _avro_logical_one(mid, b),
        AVRO_LOGICAL_SCHEMA,
        "avro_lt",
        by_id=True,
    )


def synthesize_avro_logical_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of logical-type Avro containers."""
    return synthesize_blobs(docs, _make_avro_logical, blob_meta("avro"), partitions)


# --------------------------------------------------------------------------
# Parsing Canonical Form + CRC-64-AVRO (Rabin) schema fingerprints +
# single-object encoding (Avro 1.11 spec 'Schema Fingerprints' /
# 'Single-object encoding')
# --------------------------------------------------------------------------

_PRIMITIVES = {
    "null",
    "boolean",
    "int",
    "long",
    "float",
    "double",
    "bytes",
    "string",
}


def parsing_canonical_form(schema, namespace: str | None = None) -> str:
    """Avro 'Parsing Canonical Form': fullnames, only the defining
    attributes (in the spec's fixed key order: name, type, fields,
    symbols, items, values, size), minimal JSON. The transformation
    the spec defines fingerprints over."""

    def full(name: str, ns: str | None) -> str:
        return name if "." in name or not ns else f"{ns}.{name}"

    if isinstance(schema, str):
        if schema in _PRIMITIVES:
            return json.dumps(schema)
        return json.dumps(full(schema, namespace))
    if isinstance(schema, list):
        return (
            "["
            + ",".join(
                parsing_canonical_form(s, namespace) for s in schema
            )
            + "]"
        )
    if not isinstance(schema, dict):
        raise ValueError("avro: bad schema node")
    t = schema["type"]
    if t in _PRIMITIVES:
        return json.dumps(t)
    ns = schema.get("namespace", namespace)
    if t == "record":
        name = json.dumps(full(schema["name"], ns))
        fields = ",".join(
            '{"name":%s,"type":%s}'
            % (
                json.dumps(f["name"]),
                parsing_canonical_form(f["type"], ns),
            )
            for f in schema["fields"]
        )
        return '{"name":%s,"type":"record","fields":[%s]}' % (
            name,
            fields,
        )
    if t == "enum":
        return '{"name":%s,"type":"enum","symbols":[%s]}' % (
            json.dumps(full(schema["name"], ns)),
            ",".join(json.dumps(s) for s in schema["symbols"]),
        )
    if t == "fixed":
        return '{"name":%s,"type":"fixed","size":%d}' % (
            json.dumps(full(schema["name"], ns)),
            int(schema["size"]),
        )
    if t == "array":
        return '{"type":"array","items":%s}' % parsing_canonical_form(
            schema["items"], ns
        )
    if t == "map":
        return '{"type":"map","values":%s}' % parsing_canonical_form(
            schema["values"], ns
        )
    raise ValueError(f"avro: cannot canonicalize {t!r}")


# the spec's CRC-64-AVRO polynomial: fingerprint of the empty stream
_EMPTY64 = 0xC15D213AA4D7A795
_FP_TABLE: list[int] | None = None


def rabin_fingerprint64(buf: bytes) -> int:
    """CRC-64-AVRO (the spec's 64-bit Rabin fingerprint): table-driven
    right-shift CRC with both the initial value and the polynomial
    equal to the spec constant 0xC15D213AA4D7A795."""
    global _FP_TABLE
    if _FP_TABLE is None:
        tbl = []
        for i in range(256):
            fp = i
            for _ in range(8):
                fp = (fp >> 1) ^ (_EMPTY64 if fp & 1 else 0)
            tbl.append(fp)
        _FP_TABLE = tbl
    fp = _EMPTY64
    for b in buf:
        fp = (fp >> 8) ^ _FP_TABLE[(fp ^ b) & 0xFF]
    return fp


def schema_fingerprint(schema) -> int:
    """CRC-64-AVRO of the schema's Parsing Canonical Form (the
    fingerprint single-object encoding embeds)."""
    return rabin_fingerprint64(
        parsing_canonical_form(schema).encode("utf-8")
    )


_SO_MAGIC = b"\xc3\x01"


def encode_single_object(schema, datum) -> bytes:
    """Avro single-object encoding: C3 01 marker + 8-byte
    LITTLE-endian CRC-64-AVRO schema fingerprint + the binary datum."""
    return (
        _SO_MAGIC
        + struct.pack("<Q", schema_fingerprint(schema))
        + _enc_datum(schema, datum)
    )


def decode_single_object_frame(
    value: bytes,
) -> tuple[int, bytes] | None:
    """Single-object frame -> (fingerprint, datum bytes); None when
    the marker is absent or the frame is too short."""
    if len(value) < 10 or value[:2] != _SO_MAGIC:
        return None
    (fp,) = struct.unpack_from("<Q", value, 2)
    return fp, value[10:]
