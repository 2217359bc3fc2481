r"""TFRecord + tf.Example decode from scratch — THE training-data
container of the TensorFlow ecosystem (and the wire shape most
public ML corpora distribute in): a TFRecord file is a sequence of

    uint64 LE  length
    uint32 LE  masked crc32c(length bytes)
    byte[length] data
    uint32 LE  masked crc32c(data)

with the mask ``((crc >> 15) | (crc << 17)) + 0xa282ead8`` (the
Castagnoli CRC comes from the repo's hand crc32c in
``operators/kafkalog.py``). Each record's data is a ``tf.Example``
protobuf, decoded here with the generic wire walk from
``operators/orc.py``:

    Example  { Features features = 1; }
    Features { map<string, Feature> feature = 1; }   // repeated
                                                     // (key,value)
    Feature  { oneof { BytesList bytes_list  = 1;
                       FloatList float_list  = 2;    // packed f32
                       Int64List int64_list  = 3; } }// packed varint

Strictness: both CRCs verified per record (the lie stripe flips a
byte INSIDE a stored data-CRC — framing intact, only the checksum
objects), a Feature must carry exactly one list kind, packed int64s
are zigzag-free plain varints per the proto3 spec, packed floats
must consume their length exactly, duplicate feature keys refuse,
and trailing partial frames refuse.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from gmall_flink_210726_spark.operators.kafkalog import crc32c
from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.orc import _pb_fields
from gmall_flink_210726_spark.operators.wire import _enc_uvarint, uvarints

_MASK_DELTA = 0xA282EAD8


def masked_crc32c(data: bytes) -> int:
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + _MASK_DELTA) & 0xFFFFFFFF


def tfrecord_frames(data: bytes) -> list[bytes]:
    """Walk the framing; every length-CRC and data-CRC verified."""
    out = []
    pos = 0
    n = len(data)
    while pos < n:
        if pos + 12 > n:
            raise ValueError("tfrecord: truncated header")
        lbytes = data[pos : pos + 8]
        (length,) = struct.unpack("<Q", lbytes)
        (lcrc,) = struct.unpack_from("<I", data, pos + 8)
        if masked_crc32c(lbytes) != lcrc:
            raise ValueError("tfrecord: length CRC mismatch")
        pos += 12
        if length > n - pos - 4 or length > 1 << 30:
            raise ValueError("tfrecord: truncated record")
        body = data[pos : pos + length]
        (dcrc,) = struct.unpack_from("<I", data, pos + length)
        if masked_crc32c(body) != dcrc:
            raise ValueError("tfrecord: data CRC mismatch")
        out.append(body)
        pos += length + 4
    if not out:
        raise ValueError("tfrecord: empty file")
    return out


def parse_tf_example(body: bytes) -> dict[str, tuple[str, list]]:
    """tf.Example -> {name: (kind, values)}; kind in
    bytes/float/int64. Duplicate keys and multi-kind Features
    refuse."""
    ex = _pb_fields(body)
    feats = ex.get(1)
    if feats is None or len(feats) != 1 or set(ex) != {1}:
        raise ValueError("tfrecord: not a tf.Example")
    fmap = _pb_fields(feats[0])
    if set(fmap) - {1}:
        raise ValueError("tfrecord: unknown Features field")
    out: dict[str, tuple[str, list]] = {}
    for entry in fmap.get(1, []):
        kv = _pb_fields(entry)
        keys = kv.get(1)
        vals = kv.get(2)
        if (
            keys is None
            or vals is None
            or len(keys) != 1
            or len(vals) != 1
        ):
            raise ValueError("tfrecord: bad map entry")
        name = keys[0].decode("utf-8")
        if name in out:
            raise ValueError("tfrecord: duplicate feature key")
        feat = _pb_fields(vals[0])
        kinds = [k for k in (1, 2, 3) if k in feat]
        if len(kinds) != 1 or set(feat) - {1, 2, 3}:
            raise ValueError("tfrecord: Feature needs exactly one kind")
        k = kinds[0]
        if len(feat[k]) != 1:
            raise ValueError("tfrecord: repeated kind message")
        inner = _pb_fields(feat[k][0])
        if set(inner) - {1}:
            raise ValueError("tfrecord: unknown list field")
        raw = inner.get(1, [])
        if k == 1:  # BytesList: repeated length-delimited
            if not all(isinstance(v, bytes) for v in raw):
                raise ValueError("tfrecord: bad bytes_list")
            out[name] = ("bytes", list(raw))
        elif k == 2:  # FloatList: packed fixed32
            if len(raw) != 1 or not isinstance(raw[0], bytes):
                raise ValueError("tfrecord: bad packed float_list")
            if len(raw[0]) % 4:
                raise ValueError("tfrecord: ragged float_list")
            out[name] = (
                "float",
                list(
                    struct.unpack(f"<{len(raw[0]) // 4}f", raw[0])
                ),
            )
        else:  # Int64List: packed varints
            if len(raw) != 1 or not isinstance(raw[0], bytes):
                raise ValueError("tfrecord: bad packed int64_list")
            out[name] = (  # int64 two's complement
                "int64",
                [v - (1 << 64) if v >> 63 else v for v in uvarints(raw[0])],
            )
    return out


def read_tfrecord_examples(data: bytes) -> dict | None:
    """Typed walk: every record must be an Example with exactly the
    fixture schema (id/tokens/text/score); sums prove content."""
    try:
        frames = tfrecord_frames(data)
    except ValueError:
        return None
    n = id_sum = tok_count = tok_sum = text_len = score_x4 = 0
    for body in frames:
        try:
            feats = parse_tf_example(body)
        except (ValueError, UnicodeDecodeError):
            return None
        if set(feats) != {"id", "tokens", "text", "score"}:
            return None
        kid, vid = feats["id"]
        ktok, vtok = feats["tokens"]
        ktxt, vtxt = feats["text"]
        ksc, vsc = feats["score"]
        if (
            kid != "int64"
            or len(vid) != 1
            or ktok != "int64"
            or ktxt != "bytes"
            or len(vtxt) != 1
            or ksc != "float"
            or len(vsc) != 1
        ):
            return None
        n += 1
        id_sum += vid[0]
        tok_count += len(vtok)
        tok_sum += sum(vtok)
        text_len += len(vtxt[0])
        score_x4 += int(vsc[0] * 4)  # quarter-exact fixture floats
    return {
        "n_records": n,
        "id_sum": id_sum,
        "token_count": tok_count,
        "token_sum": tok_sum,
        "text_len_sum": text_len,
        "score_x4_sum": score_x4,
    }


# --------------------------------------------------------- fixtures


_U64 = (1 << 64) - 1  # int64 varints are two's complement


def _pb_tag(fn: int, wt: int) -> bytes:
    return _enc_uvarint((fn << 3) | wt)


def _pb_len(fn: int, payload: bytes) -> bytes:
    return _pb_tag(fn, 2) + _enc_uvarint(len(payload)) + payload


def make_tf_example(
    rid: int, tokens: list[int], text: bytes, score: float
) -> bytes:
    """Hand proto encoder for the fixture schema (round-trip-pinned
    against the reader in tests)."""

    def feature(kind: int, payload: bytes) -> bytes:
        return _pb_len(kind, payload)

    def entry(name: str, feat: bytes) -> bytes:
        return _pb_len(1, _pb_len(1, name.encode()) + _pb_len(2, feat))

    id_f = feature(3, _pb_len(1, _enc_uvarint(rid & _U64)))
    tok_f = feature(
        3, _pb_len(1, b"".join(_enc_uvarint(t & _U64) for t in tokens))
    )
    txt_f = feature(1, _pb_len(1, text))
    sc_f = feature(2, _pb_len(1, struct.pack("<f", score)))
    features = (
        entry("id", id_f)
        + entry("tokens", tok_f)
        + entry("text", txt_f)
        + entry("score", sc_f)
    )
    return _pb_len(1, features)


def make_tfrecord(bodies: list[bytes]) -> bytes:
    out = bytearray()
    for body in bodies:
        lbytes = struct.pack("<Q", len(body))
        out += lbytes
        out += struct.pack("<I", masked_crc32c(lbytes))
        out += body
        out += struct.pack("<I", masked_crc32c(body))
    return bytes(out)


def _make_tfrecord_blob(
    i: int, bad_stripe: int = 13, lie_stripe: int = 9
) -> bytes:
    """``2 + i%4`` tf.Examples per file. Every ``bad_stripe``-th id
    flips a byte inside the FIRST record's proto body (the data CRC
    catches it); every ``lie_stripe``-th id flips a byte inside the
    LAST record's STORED data-CRC — framing and proto both intact,
    only the checksum comparison objects."""
    nr = 2 + i % 4
    bodies = []
    for j in range(nr):
        bodies.append(
            make_tf_example(
                100 * i + j,
                [(i + j + t) % 50 for t in range(3 + (i + j) % 5)],
                b"w" * (4 + (i + j) % 7),
                ((i + j) % 9 - 4) / 4.0,
            )
        )
    blob = bytearray(make_tfrecord(bodies))
    if i % bad_stripe == 0:
        blob[12 + len(bodies[0]) // 2] ^= 0xFF
    elif i % lie_stripe == 0:
        blob[-1] ^= 0x5A
    return bytes(blob)


TFREC_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_records", LongType()),
        StructField("id_sum", LongType()),
        StructField("token_count", LongType()),
        StructField("token_sum", LongType()),
        StructField("text_len_sum", LongType()),
        StructField("score_x4_sum", LongType()),
    ]
)


def tfrecord_stats(df: DataFrame) -> DataFrame:
    """TFRecord walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_tfrecord_examples, TFREC_SCHEMA, "tfrecord")


def synthesize_tfrecord_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of TFRecord blobs."""
    return synthesize_blobs(docs, _make_tfrecord_blob, blob_meta("tfrecord"))
