r"""MessagePack stream walk (the msgpack spec,
github.com/msgpack/msgpack/blob/master/spec.md) — the compact
serialization feature caches and RPC layers actually ship.  The walk
enforces CANONICAL (minimal) encodings — the spec's "serializers
SHOULD use the format which represents the data in the smallest
number of bytes", which content-addressed and signature-bearing
systems upgrade to MUST: a non-minimal integer (uint16 carrying 7)
re-serializes differently, breaking hashes, so this reader refuses
it outright.

Grammar decoded from the spec: positive/negative fixint, fixmap /
fixarray / fixstr, nil (0xc0), bool, bin 8/16/32, uint 8/16/32/64,
int 8/16/32/64, str 8/16/32, array 16/32, map 16/32.  0xc1 is the
spec's never-used byte — instant refusal.  Canonical rules enforced:
ints must use the smallest class that fits (fixint < uint8 < … ;
negative fixint < int8 < …), strings/bins/arrays/maps the smallest
length header.  Top level: each object must be a map (a row), and
objects tile the blob exactly.

Scale: one Arrow-batched ``mapInPandas`` map stage per blob — no
shuffle (the L17 multimodal pattern).
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

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)


class _Dec:
    __slots__ = ("data", "pos", "stats")

    def __init__(self, data: bytes, stats: dict):
        self.data = data
        self.pos = 0
        self.stats = stats

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.data):
            raise ValueError("msgpack: truncated")
        out = self.data[self.pos : self.pos + n]
        self.pos += n
        return out

    def value(self, depth: int = 0):
        if depth > 16:
            raise ValueError("msgpack: nesting too deep")
        s = self.stats
        b0 = self.take(1)[0]
        if b0 <= 0x7F:  # positive fixint
            s["int_sum"] += b0
            s["n_values"] += 1
            return b0
        if b0 >= 0xE0:  # negative fixint
            v = b0 - 256
            s["int_sum"] += v
            s["n_values"] += 1
            return v
        if 0x80 <= b0 <= 0x8F:
            return self._map(b0 & 0x0F, depth)
        if 0x90 <= b0 <= 0x9F:
            return self._array(b0 & 0x0F, depth)
        if 0xA0 <= b0 <= 0xBF:
            return self._str(b0 & 0x1F, 0)
        if b0 == 0xC0:
            s["n_nil"] += 1
            s["n_values"] += 1
            return None
        if b0 == 0xC2 or b0 == 0xC3:
            s["n_true"] += b0 == 0xC3
            s["n_values"] += 1
            return b0 == 0xC3
        if b0 == 0xC4:
            return self._bin(self.take(1)[0], 1)
        if b0 == 0xC5:
            return self._bin(
                struct.unpack(">H", self.take(2))[0], 2
            )
        if b0 == 0xC6:
            return self._bin(
                struct.unpack(">I", self.take(4))[0], 4
            )
        if b0 == 0xCC:
            v = self.take(1)[0]
            if v <= 0x7F:
                raise ValueError("msgpack: non-minimal uint8")
            s["int_sum"] += v
            s["n_values"] += 1
            return v
        if b0 == 0xCD:
            (v,) = struct.unpack(">H", self.take(2))
            if v <= 0xFF:
                raise ValueError("msgpack: non-minimal uint16")
            s["int_sum"] += v
            s["n_values"] += 1
            return v
        if b0 == 0xCE:
            (v,) = struct.unpack(">I", self.take(4))
            if v <= 0xFFFF:
                raise ValueError("msgpack: non-minimal uint32")
            s["int_sum"] += v
            s["n_values"] += 1
            return v
        if b0 == 0xCF:
            (v,) = struct.unpack(">Q", self.take(8))
            if v <= 0xFFFFFFFF:
                raise ValueError("msgpack: non-minimal uint64")
            s["int_sum"] += v
            s["n_values"] += 1
            return v
        if b0 == 0xD0:
            (v,) = struct.unpack(">b", self.take(1))
            if v >= -32:
                raise ValueError("msgpack: non-minimal int8")
            s["int_sum"] += v
            s["n_values"] += 1
            return v
        if b0 == 0xD1:
            (v,) = struct.unpack(">h", self.take(2))
            if -128 <= v:
                raise ValueError("msgpack: non-minimal int16")
            s["int_sum"] += v
            s["n_values"] += 1
            return v
        if b0 == 0xD2:
            (v,) = struct.unpack(">i", self.take(4))
            if -32768 <= v:
                raise ValueError("msgpack: non-minimal int32")
            s["int_sum"] += v
            s["n_values"] += 1
            return v
        if b0 == 0xD3:
            (v,) = struct.unpack(">q", self.take(8))
            if -(1 << 31) <= v:
                raise ValueError("msgpack: non-minimal int64")
            s["int_sum"] += v
            s["n_values"] += 1
            return v
        if b0 == 0xD9:
            return self._str(self.take(1)[0], 1)
        if b0 == 0xDA:
            return self._str(
                struct.unpack(">H", self.take(2))[0], 2
            )
        if b0 == 0xDB:
            return self._str(
                struct.unpack(">I", self.take(4))[0], 4
            )
        if b0 == 0xDC:
            return self._array(
                struct.unpack(">H", self.take(2))[0], depth, 2
            )
        if b0 == 0xDD:
            return self._array(
                struct.unpack(">I", self.take(4))[0], depth, 4
            )
        if b0 == 0xDE:
            return self._map(
                struct.unpack(">H", self.take(2))[0], depth, 2
            )
        if b0 == 0xDF:
            return self._map(
                struct.unpack(">I", self.take(4))[0], depth, 4
            )
        raise ValueError("msgpack: reserved or unsupported byte")

    def _str(self, n: int, hdr: int) -> str:
        if hdr == 1 and n <= 31:
            raise ValueError("msgpack: non-minimal str8")
        if hdr == 2 and n <= 0xFF:
            raise ValueError("msgpack: non-minimal str16")
        if hdr == 4 and n <= 0xFFFF:
            raise ValueError("msgpack: non-minimal str32")
        raw = self.take(n)
        s = raw.decode("utf-8", "strict")
        self.stats["str_bytes"] += n
        self.stats["n_values"] += 1
        return s

    def _bin(self, n: int, hdr: int) -> bytes:
        if hdr == 2 and n <= 0xFF:
            raise ValueError("msgpack: non-minimal bin16")
        if hdr == 4 and n <= 0xFFFF:
            raise ValueError("msgpack: non-minimal bin32")
        raw = self.take(n)
        self.stats["bin_bytes"] += n
        self.stats["n_values"] += 1
        return raw

    def _array(self, n: int, depth: int, hdr: int = 0) -> list:
        if hdr == 2 and n <= 15:
            raise ValueError("msgpack: non-minimal array16")
        if hdr == 4 and n <= 0xFFFF:
            raise ValueError("msgpack: non-minimal array32")
        self.stats["n_arrays"] += 1
        return [self.value(depth + 1) for _ in range(n)]

    def _map(self, n: int, depth: int, hdr: int = 0) -> dict:
        if hdr == 2 and n <= 15:
            raise ValueError("msgpack: non-minimal map16")
        if hdr == 4 and n <= 0xFFFF:
            raise ValueError("msgpack: non-minimal map32")
        self.stats["n_maps"] += 1
        out = {}
        for _ in range(n):
            k = self.value(depth + 1)
            if not isinstance(k, str):
                raise ValueError("msgpack: map keys must be str here")
            v = self.value(depth + 1)
            out[k] = v
        if len(out) != n:
            raise ValueError("msgpack: duplicate map keys")
        return out


def read_msgpack_stream(data: bytes) -> dict | None:
    """Back-to-back top-level maps -> census; None on any grammar
    or canonicality violation (module doc)."""
    if not data:
        return None
    stats = {
        "n_objects": 0,
        "n_maps": 0,
        "n_arrays": 0,
        "n_values": 0,
        "n_nil": 0,
        "n_true": 0,
        "int_sum": 0,
        "str_bytes": 0,
        "bin_bytes": 0,
    }
    dec = _Dec(data, stats)
    try:
        while dec.pos < len(data):
            obj = dec.value()
            if not isinstance(obj, dict):
                return None  # rows are maps
            stats["n_objects"] += 1
    except (ValueError, UnicodeDecodeError):
        return None
    return stats


MSGPACK_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_objects", LongType()),
        StructField("n_maps", LongType()),
        StructField("n_arrays", LongType()),
        StructField("n_values", LongType()),
        StructField("int_sum", LongType()),
        StructField("str_bytes", LongType()),
        StructField("n_true", LongType()),
    ]
)


def msgpack_stats(df: DataFrame) -> DataFrame:
    """Canonical-msgpack census over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_msgpack_stream, MSGPACK_SCHEMA, "msgpack")


# --------------------------------------------------------------------------
# Fixture synthesis: a minimal-encoding writer (the canonical form
# the reader enforces)
# --------------------------------------------------------------------------


def _enc(v) -> bytes:
    if v is None:
        return b"\xc0"
    if isinstance(v, bool):
        return b"\xc3" if v else b"\xc2"
    if isinstance(v, int):
        if 0 <= v <= 0x7F:
            return bytes([v])
        if -32 <= v < 0:
            return bytes([v & 0xFF])
        if 0 <= v <= 0xFF:
            return b"\xcc" + bytes([v])
        if 0 <= v <= 0xFFFF:
            return b"\xcd" + struct.pack(">H", v)
        if 0 <= v <= 0xFFFFFFFF:
            return b"\xce" + struct.pack(">I", v)
        if v >= 0:
            return b"\xcf" + struct.pack(">Q", v)
        if v >= -128:
            return b"\xd0" + struct.pack(">b", v)
        if v >= -32768:
            return b"\xd1" + struct.pack(">h", v)
        if v >= -(1 << 31):
            return b"\xd2" + struct.pack(">i", v)
        return b"\xd3" + struct.pack(">q", v)
    if isinstance(v, str):
        raw = v.encode("utf-8")
        n = len(raw)
        if n <= 31:
            return bytes([0xA0 | n]) + raw
        if n <= 0xFF:
            return b"\xd9" + bytes([n]) + raw
        return b"\xda" + struct.pack(">H", n) + raw
    if isinstance(v, bytes):
        n = len(v)
        if n <= 0xFF:
            return b"\xc4" + bytes([n]) + v
        return b"\xc5" + struct.pack(">H", n) + v
    if isinstance(v, list):
        n = len(v)
        head = (
            bytes([0x90 | n])
            if n <= 15
            else b"\xdc" + struct.pack(">H", n)
        )
        return head + b"".join(_enc(x) for x in v)
    if isinstance(v, dict):
        n = len(v)
        head = (
            bytes([0x80 | n])
            if n <= 15
            else b"\xde" + struct.pack(">H", n)
        )
        return head + b"".join(
            _enc(k) + _enc(x) for k, x in v.items()
        )
    raise TypeError(type(v))


def _mp_nr(i: int) -> int:
    return 10 + i % 15


def _mp_id(i: int, r: int) -> int:
    return (1000 * i + 37 * r) % 3_000_000_000  # exercises uint32


def _mp_score(i: int, r: int) -> int:
    return -((13 * i + 7 * r) % 40000)  # negative fixint..int16


def _mp_namelen(i: int, r: int) -> int:
    return 10 + (i + r) % 40  # crosses the fixstr/str8 boundary


def _mp_nt(i: int, r: int) -> int:
    return 1 + (i + r) % 4


def make_msgpack_stream(i: int) -> bytes:
    """``10 + i%15`` row maps: id (up to uint32), score (negative,
    down to int16), a name crossing the fixstr/str8 boundary, a tag
    array, a bool, a nil, a nested meta map. Lies: every 13th id
    re-encodes one row's id NON-minimally (uint16 carrying a small
    value — the canonical gate refuses); every 17th-miss id
    overstates a string length (truncation refuses); every
    19th-miss id plants the spec's never-used byte 0xc1 (refuses)."""
    out = b""
    nr = _mp_nr(i)
    for r in range(nr):
        name = "n" * _mp_namelen(i, r)
        row = {
            "id": _mp_id(i, r),
            "score": _mp_score(i, r),
            "name": name,
            "tags": list(range(_mp_nt(i, r))),
            "ok": r % 2 == 1,
            "gone": None,
            "meta": {"v": (3 * i + r) % 100},
        }
        enc = _enc(row)
        if i % 13 == 0 and r == nr - 1:
            # re-encode id non-minimally: uint16 for a value < 256
            small = 7
            enc = b"\x81" + _enc("id") + b"\xcd" + struct.pack(
                ">H", small
            )
        if i % 17 == 0 and i % 13 != 0 and r == nr - 1:
            # str8 header claiming 200 bytes with fewer present
            enc = b"\x81" + _enc("s") + b"\xd9\xc8" + b"x" * 20
        if (
            i % 19 == 0
            and i % 13 != 0
            and i % 17 != 0
            and r == nr - 1
        ):
            enc = b"\x81" + _enc("x") + b"\xc1"
        out += enc
    return out


def synthesize_msgpack_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of msgpack row streams."""
    return synthesize_blobs(docs, make_msgpack_stream, blob_meta("msgpack"))
