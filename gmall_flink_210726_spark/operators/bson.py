r"""BSON — the mongodump/MongoDB wire document format
(bsonspec.org, version 1.1) — what a Mongo-backed product's data
export actually looks like: a ``.bson`` dump is documents
back-to-back, each ``[int32 total_len][elements][0x00]``.

Grammar walked from the spec, with the length books at every level:

- document: little-endian int32 total length INCLUDING itself and
  the trailing NUL; elements must consume exactly
  ``total_len - 5`` bytes and the terminator must be present — a
  document that lies about its length cannot hide because the next
  document's length prefix would land mid-element.
- element: ``[type byte][cstring name][value]``; names are
  NUL-terminated modified-UTF-8 (no embedded NUL).
- types decoded: double (0x01, must be integral in the fixture —
  the exact-sum discipline), string (0x02: int32 len INCLUDING its
  own NUL, which must be present — the spec's classic redundancy),
  embedded document (0x03, recursive with its own books), array
  (0x04: a document whose keys MUST be "0","1",... in order — the
  spec's array rule, verified), binary (0x05: int32 len + subtype),
  bool (0x08: strictly 0x00/0x01), null (0x0A), int32 (0x10),
  int64 (0x12).  Unknown types refuse.
- the dump level: documents tile the blob exactly.

Scale: one Arrow-batched ``mapInPandas`` map stage per blob — no
shuffle (the L17 multimodal pattern).

Reference parity note: the reference's dim/config tables are
MySQL+HBase; a Mongo-shaped source is the same enrichment surface
arriving as BSON dumps.  Extends SURVEY §2.12's multimodal family.
"""

from __future__ import annotations

import math
import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)


def _cstring(data: bytes, pos: int) -> tuple[bytes, int] | None:
    nul = data.find(b"\x00", pos)
    if nul < 0:
        return None
    return data[pos:nul], nul + 1


def _parse_doc(
    data: bytes, pos: int, stats: dict, depth: int = 0
) -> int | None:
    """Parse one document at pos -> end position; None on any
    violation.  Accumulates into ``stats``."""
    if depth > 16:
        return None
    if pos + 5 > len(data):
        return None
    (total,) = struct.unpack_from("<i", data, pos)
    end = pos + total
    if total < 5 or end > len(data):
        return None
    if data[end - 1] != 0:
        return None  # terminator
    p = pos + 4
    is_array = stats.pop("_expect_array", False)
    expect_idx = 0
    while p < end - 1:
        etype = data[p]
        p += 1
        got = _cstring(data, p)
        if got is None or got[1] > end - 1:
            return None
        name, p = got
        if is_array:
            if name != str(expect_idx).encode():
                return None  # array keys must be "0","1",...
            expect_idx += 1
        if etype == 0x01:  # double
            if p + 8 > end - 1:
                return None
            (x,) = struct.unpack_from("<d", data, p)
            p += 8
            if not math.isfinite(x) or x != int(x):
                return None  # fixture doubles are finite integers
            stats["dbl_sum"] += int(x)
            stats["n_values"] += 1
        elif etype == 0x02:  # string
            if p + 4 > end - 1:
                return None
            (slen,) = struct.unpack_from("<i", data, p)
            p += 4
            if slen < 1 or p + slen > end - 1:
                return None
            if data[p + slen - 1] != 0:
                return None  # the string's own NUL books
            s = data[p : p + slen - 1]
            if b"\x00" in s:
                return None
            p += slen
            stats["str_bytes"] += len(s)
            stats["n_values"] += 1
        elif etype == 0x03:  # embedded document
            got2 = _parse_doc(data, p, stats, depth + 1)
            if got2 is None:
                return None
            p = got2
            stats["n_docs"] += 1
        elif etype == 0x04:  # array
            stats["_expect_array"] = True
            got2 = _parse_doc(data, p, stats, depth + 1)
            if got2 is None:
                return None
            p = got2
            stats["n_arrays"] += 1
        elif etype == 0x05:  # binary
            if p + 5 > end - 1:
                return None
            (blen,) = struct.unpack_from("<i", data, p)
            subtype = data[p + 4]
            p += 5
            if blen < 0 or p + blen > end - 1 or subtype > 0x08:
                return None
            stats["bin_bytes"] += blen
            stats["n_values"] += 1
            p += blen
        elif etype == 0x08:  # bool
            if p + 1 > end - 1 or data[p] > 1:
                return None
            stats["n_true"] += data[p]
            stats["n_values"] += 1
            p += 1
        elif etype == 0x0A:  # null
            stats["n_nulls"] += 1
            stats["n_values"] += 1
        elif etype == 0x10:  # int32
            if p + 4 > end - 1:
                return None
            (v,) = struct.unpack_from("<i", data, p)
            p += 4
            stats["int_sum"] += v
            stats["n_values"] += 1
        elif etype == 0x12:  # int64
            if p + 8 > end - 1:
                return None
            (v,) = struct.unpack_from("<q", data, p)
            p += 8
            stats["int_sum"] += v
            stats["n_values"] += 1
        else:
            return None  # unknown element type
        stats["name_bytes"] += len(name)
    if p != end - 1:
        return None  # elements must consume the body exactly
    return end


def read_bson_dump(data: bytes) -> dict | None:
    """Back-to-back documents -> exact census; None on any
    violation (module doc)."""
    stats = {
        "n_top_docs": 0,
        "n_docs": 0,
        "n_arrays": 0,
        "n_values": 0,
        "n_nulls": 0,
        "n_true": 0,
        "int_sum": 0,
        "dbl_sum": 0,
        "str_bytes": 0,
        "bin_bytes": 0,
        "name_bytes": 0,
    }
    pos = 0
    if not data:
        return None
    while pos < len(data):
        got = _parse_doc(data, pos, stats)
        if got is None:
            return None
        pos = got
        stats["n_top_docs"] += 1
    return stats


BSON_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_top_docs", LongType()),
        StructField("n_docs", LongType()),
        StructField("n_arrays", LongType()),
        StructField("n_values", LongType()),
        StructField("int_sum", LongType()),
        StructField("dbl_sum", LongType()),
        StructField("str_bytes", LongType()),
        StructField("n_true", LongType()),
    ]
)


def bson_stats(df: DataFrame) -> DataFrame:
    """BSON dump census over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_bson_dump, BSON_SCHEMA, "bson")


# --------------------------------------------------------------------------
# Fixture synthesis (hand encoder; no bson library in the container)
# --------------------------------------------------------------------------


def _enc_doc(elements: list[tuple[int, bytes, bytes]]) -> bytes:
    body = b"".join(
        bytes([t]) + name + b"\x00" + val
        for t, name, val in elements
    )
    total = 4 + len(body) + 1
    return struct.pack("<i", total) + body + b"\x00"


def _enc_string(s: bytes) -> bytes:
    return struct.pack("<i", len(s) + 1) + s + b"\x00"


def _bson_nd(i: int) -> int:
    return 8 + i % 12


def _bson_iv(i: int, d: int) -> int:
    return (7 * i + 13 * d) % 100000 - 50000


def _bson_dv(i: int, d: int) -> int:
    return (11 * i + 5 * d) % 2001 - 1000


def _bson_slen(i: int, d: int) -> int:
    return 5 + (i + d) % 12


def _bson_na(i: int, d: int) -> int:
    return 2 + (i + d) % 3


def make_bson_dump(i: int) -> bytes:
    """``8 + i%12`` top-level documents; document d carries an int64
    ``n``, an integral double ``score``, a string ``s`` of
    ``5+(i+d)%12`` x's, a bool, a null, an embedded doc with an
    int32, and an array of ``2+(i+d)%3`` int32s (keys "0","1",...).
    Lies: every 13th id overstates one document's total length by 1
    (the tiling books refuse); every 17th-miss id drops a string's
    terminating NUL (the string books refuse); every 19th-miss id
    breaks an array's key sequence (the array rule refuses)."""
    out = b""
    nd = _bson_nd(i)
    for d in range(nd):
        arr_keys = [str(k).encode() for k in range(_bson_na(i, d))]
        if (
            i % 19 == 0
            and i % 13 != 0
            and i % 17 != 0
            and d == nd - 1
        ):
            arr_keys[-1] = b"9"  # out-of-sequence array key
        arr = _enc_doc(
            [
                (0x10, k, struct.pack("<i", 10 * d + j))
                for j, k in enumerate(arr_keys)
            ]
        )
        sval = b"x" * _bson_slen(i, d)
        s_enc = _enc_string(sval)
        if i % 17 == 0 and i % 13 != 0 and d == nd - 1:
            # clobber the string's final NUL (length stays)
            s_enc = s_enc[:-1] + b"y"
        inner = _enc_doc(
            [(0x10, b"k", struct.pack("<i", (3 * i + d) % 1000))]
        )
        doc = _enc_doc(
            [
                (0x12, b"n", struct.pack("<q", _bson_iv(i, d))),
                (
                    0x01,
                    b"score",
                    struct.pack("<d", float(_bson_dv(i, d))),
                ),
                (0x02, b"s", s_enc),
                (0x08, b"ok", bytes([d % 2])),
                (0x0A, b"gone", b""),
                (0x03, b"meta", inner),
                (0x04, b"tags", arr),
            ]
        )
        if i % 13 == 0 and d == nd - 1:
            doc = struct.pack(
                "<i", struct.unpack("<i", doc[:4])[0] + 1
            ) + doc[4:]
        out += doc
    return out


def synthesize_bson_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of BSON dumps."""
    return synthesize_blobs(docs, make_bson_dump, blob_meta("bson"))
