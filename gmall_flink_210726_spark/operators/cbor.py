r"""CBOR decode + encode from scratch (RFC 8949) — the binary
data-interchange format of the IoT/COSE/WebAuthn ecosystem and a
common Kafka payload encoding next to Avro and JSON.

The full data model is implemented:

- major types 0/1 (unsigned / negative integers, all five argument
  widths, with the RFC's preferred-serialization minimality
  CHECKED on decode — an over-wide integer is a protocol error
  here, which also makes every encode/decode pair canonical);
- major types 2/3 (byte / text strings, definite AND
  indefinite-length chunked form — chunks must themselves be
  definite and of the same major type, text must be valid UTF-8);
- major types 4/5 (arrays / maps, definite and indefinite with the
  0xFF "break");
- major type 6 (tags, arbitrary nesting);
- major type 7 (false/true/null/undefined, half/single/double
  floats — the float16 decoder handles subnormals and infinities
  per the RFC's reference algorithm).

Decode is strict: reserved additional-info values (28-30), a break
outside an indefinite container, unpaired map keys, string chunks
of the wrong type, non-minimal integer widths, and trailing bytes
all raise. Tests pin the RFC 8949 Appendix A examples (hex ->
value) and fuzz encode->decode round trips over random documents.
"""

from __future__ import annotations

import struct

BREAK = object()
UNDEFINED = object()


class Tag:
    __slots__ = ("tag", "value")

    def __init__(self, tag: int, value):
        self.tag = tag
        self.value = value

    def __eq__(self, other):
        return (
            isinstance(other, Tag)
            and self.tag == other.tag
            and self.value == other.value
        )

    def __repr__(self):
        return f"Tag({self.tag}, {self.value!r})"


# ------------------------------------------------------------- decode


def _f16(h: int) -> float:
    """RFC 8949 Appendix D half-float decode (handles subnormals,
    infinities, NaN)."""
    exp = (h >> 10) & 0x1F
    mant = h & 0x3FF
    if exp == 0:
        val = mant * 2.0**-24
    elif exp != 31:
        val = (mant + 1024) * 2.0 ** (exp - 25)
    else:
        val = float("inf") if mant == 0 else float("nan")
    return -val if h & 0x8000 else val


class _Dec:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def take(self, n: int) -> bytes:
        if self.pos + n > len(self.data):
            raise ValueError("cbor: truncated")
        b = self.data[self.pos : self.pos + n]
        self.pos += n
        return b

    def _arg(self, ai: int, mt: int) -> int | None:
        """Additional-info argument; None = indefinite. Enforces the
        RFC's preferred (minimal-width) serialization."""
        if ai < 24:
            return ai
        if ai == 24:
            v = self.take(1)[0]
            if v < 24:
                raise ValueError("cbor: non-minimal 1-byte argument")
            return v
        if ai == 25:
            (v,) = struct.unpack(">H", self.take(2))
            if mt != 7 and v < 0x100:
                raise ValueError("cbor: non-minimal 2-byte argument")
            return v
        if ai == 26:
            (v,) = struct.unpack(">I", self.take(4))
            if mt != 7 and v < 0x10000:
                raise ValueError("cbor: non-minimal 4-byte argument")
            return v
        if ai == 27:
            (v,) = struct.unpack(">Q", self.take(8))
            if mt != 7 and v < 0x100000000:
                raise ValueError("cbor: non-minimal 8-byte argument")
            return v
        if ai == 31:
            return None
        raise ValueError("cbor: reserved additional info")

    def item(self, depth: int = 0):
        if depth > 64:
            raise ValueError("cbor: nesting too deep")
        head = self.take(1)[0]
        mt, ai = head >> 5, head & 0x1F
        if mt == 0:
            v = self._arg(ai, mt)
            if v is None:
                raise ValueError("cbor: indefinite integer")
            return v
        if mt == 1:
            v = self._arg(ai, mt)
            if v is None:
                raise ValueError("cbor: indefinite integer")
            return -1 - v
        if mt in (2, 3):
            n = self._arg(ai, mt)
            if n is None:  # indefinite: definite chunks of same type
                parts = []
                while True:
                    if self.pos >= len(self.data):
                        raise ValueError("cbor: unterminated chunks")
                    nh = self.data[self.pos]
                    if nh == 0xFF:
                        self.pos += 1
                        break
                    if nh >> 5 != mt or (nh & 0x1F) == 31:
                        raise ValueError("cbor: bad string chunk")
                    self.pos += 1
                    cn = self._arg(nh & 0x1F, mt)
                    parts.append(self.take(cn))
                raw = b"".join(parts)
            else:
                raw = self.take(n)
            if mt == 2:
                return raw
            try:
                return raw.decode("utf-8", "strict")
            except UnicodeDecodeError as e:
                raise ValueError("cbor: invalid utf-8 text") from e
        if mt == 4:
            n = self._arg(ai, mt)
            out = []
            if n is None:
                while True:
                    v = self._item_or_break(depth)
                    if v is BREAK:
                        return out
                    out.append(v)
            for _ in range(n):
                out.append(self.item(depth + 1))
            return out
        if mt == 5:
            n = self._arg(ai, mt)
            out = {}
            if n is None:
                while True:
                    k = self._item_or_break(depth)
                    if k is BREAK:
                        return out
                    hk = _key(k)
                    if hk in out:
                        raise ValueError("cbor: duplicate map key")
                    out[hk] = self.item(depth + 1)
                    # (an unpaired key raises inside item: truncated)
            for _ in range(n):
                k = self.item(depth + 1)
                hk = _key(k)
                if hk in out:
                    raise ValueError("cbor: duplicate map key")
                out[hk] = self.item(depth + 1)
            return out
        if mt == 6:
            t = self._arg(ai, mt)
            if t is None:
                raise ValueError("cbor: indefinite tag")
            return Tag(t, self.item(depth + 1))
        # mt == 7
        if ai == 20:
            return False
        if ai == 21:
            return True
        if ai == 22:
            return None
        if ai == 23:
            return UNDEFINED
        if ai == 24:
            v = self.take(1)[0]
            if v < 32:
                raise ValueError("cbor: invalid simple value encoding")
            return ("simple", v)
        if ai == 25:
            return _f16(struct.unpack(">H", self.take(2))[0])
        if ai == 26:
            return struct.unpack(">f", self.take(4))[0]
        if ai == 27:
            return struct.unpack(">d", self.take(8))[0]
        if ai < 20:
            return ("simple", ai)
        raise ValueError("cbor: reserved simple value")

    def _item_or_break(self, depth: int):
        if self.pos >= len(self.data):
            raise ValueError("cbor: unterminated container")
        if self.data[self.pos] == 0xFF:
            self.pos += 1
            return BREAK
        return self.item(depth + 1)


def _key(k):
    if isinstance(k, (str, int, bytes, bool)) or k is None:
        return k
    raise ValueError("cbor: unhashable map key")


def cbor_loads(data: bytes):
    """Decode exactly one item; trailing bytes raise."""
    d = _Dec(data)
    v = d.item()
    if d.pos != len(data):
        raise ValueError("cbor: trailing bytes")
    return v


# ------------------------------------------------------------- encode


def _enc_head(mt: int, arg: int) -> bytes:
    if arg < 24:
        return bytes([(mt << 5) | arg])
    if arg < 0x100:
        return bytes([(mt << 5) | 24, arg])
    if arg < 0x10000:
        return bytes([(mt << 5) | 25]) + struct.pack(">H", arg)
    if arg < 0x100000000:
        return bytes([(mt << 5) | 26]) + struct.pack(">I", arg)
    return bytes([(mt << 5) | 27]) + struct.pack(">Q", arg)


def cbor_dumps(v, indefinite_strings: bool = False) -> bytes:
    """Preferred (minimal) serialization. Floats are written at the
    smallest width that round-trips exactly (the RFC's preferred
    float encoding). ``indefinite_strings`` chunks every text of
    length >= 4 (for exercising the chunked form)."""
    if v is True:
        return b"\xf5"
    if v is False:
        return b"\xf4"
    if v is None:
        return b"\xf6"
    if v is UNDEFINED:
        return b"\xf7"
    if isinstance(v, int):
        if v >= 0:
            return _enc_head(0, v)
        return _enc_head(1, -1 - v)
    if isinstance(v, float):
        for fmt, ai in ((">e", 25), (">f", 26)):
            try:
                packed = struct.pack(fmt, v)
                if struct.unpack(fmt, packed)[0] == v:
                    return bytes([(7 << 5) | ai]) + packed
            except (OverflowError, ValueError):
                pass
        return b"\xfb" + struct.pack(">d", v)
    if isinstance(v, bytes):
        return _enc_head(2, len(v)) + v
    if isinstance(v, str):
        raw = v.encode("utf-8")
        if indefinite_strings and len(raw) >= 4:
            half = len(raw) // 2
            return (
                b"\x7f"
                + _enc_head(3, half)
                + raw[:half]
                + _enc_head(3, len(raw) - half)
                + raw[half:]
                + b"\xff"
            )
        return _enc_head(3, len(raw)) + raw
    if isinstance(v, list):
        return _enc_head(4, len(v)) + b"".join(
            cbor_dumps(x, indefinite_strings) for x in v
        )
    if isinstance(v, dict):
        out = _enc_head(5, len(v))
        for k, val in v.items():
            out += cbor_dumps(k, indefinite_strings)
            out += cbor_dumps(val, indefinite_strings)
        return out
    if isinstance(v, Tag):
        return _enc_head(6, v.tag) + cbor_dumps(
            v.value, indefinite_strings
        )
    raise TypeError(f"cbor: cannot encode {type(v).__name__}")


def cbor_sequence(data: bytes) -> list:
    """RFC 8742 CBOR Sequence: back-to-back top-level items (the
    shape a Kafka topic of CBOR payloads lands in a segment)."""
    d = _Dec(data)
    out = []
    while d.pos < len(data):
        out.append(d.item())
    if not out:
        raise ValueError("cbor: empty sequence")
    return out


# --------------------------------------------------------------------------
# Spark plumbing + fixtures
# --------------------------------------------------------------------------

_HALF_X4 = (2, 6, -8, 1)  # 4x the exactly-representable f16 rotation


def read_cbor_records(data: bytes) -> dict | None:
    """Typed walk over a CBOR sequence of record maps; any schema
    drift (missing key, wrong type, wrong tag number) degrades."""
    try:
        records = cbor_sequence(data)
    except ValueError:
        return None
    n = id_sum = neg_sum = tag_len = blob_len = ts_sum = 0
    half_x4 = n_true = n_null = 0
    for rec in records:
        if not isinstance(rec, dict) or len(rec) != 7:
            return None
        try:
            rid = rec["id"]
            neg = rec["neg"]
            tags = rec["tags"]
            blob = rec["blob"]
            ts = rec["ts"]
            half = rec["half"]
            flag = rec["flag"]
        except KeyError:
            return None
        if not (
            isinstance(rid, int)
            and isinstance(neg, int)
            and neg < 0
            and isinstance(tags, list)
            and all(isinstance(t, str) for t in tags)
            and isinstance(blob, bytes)
            and isinstance(ts, Tag)
            and ts.tag == 1  # epoch-seconds tag
            and isinstance(ts.value, int)
            and isinstance(half, float)
            and (flag is True or flag is False or flag is None)
        ):
            return None
        n += 1
        id_sum += rid
        neg_sum += neg
        tag_len += sum(len(t) for t in tags)
        blob_len += len(blob)
        ts_sum += ts.value
        half_x4 += int(half * 4)
        n_true += flag is True
        n_null += flag is None
    return {
        "n_records": n,
        "id_sum": id_sum,
        "neg_sum": neg_sum,
        "tag_text_len": tag_len,
        "blob_len_sum": blob_len,
        "ts_sum": ts_sum,
        "half_x4_sum": half_x4,
        "n_true": n_true,
        "n_null": n_null,
    }


def _make_cbor_blob(
    i: int, bad_stripe: int = 13, lie_stripe: int = 9
) -> bytes:
    """``2 + i%4`` record maps as one CBOR sequence; odd ids chunk
    their texts indefinite-length. Every ``bad_stripe``-th id is
    truncated by one byte; every ``lie_stripe``-th id gains a lone
    0xFF break at top level (a break outside any container is a
    protocol error the decoder must refuse)."""
    halves = (0.5, 1.5, -2.0, 0.25)
    recs = []
    for j in range(2 + i % 4):
        recs.append(
            {
                "id": 100 * i + j,
                "neg": -((i + j) % 50) - 1,
                "tags": [
                    f"t{(i + j + k) % 20}"
                    for k in range(1 + (i + j) % 3)
                ],
                "blob": bytes(
                    (i + j + t) % 256 for t in range(5 + (i + j) % 9)
                ),
                "ts": Tag(1, 1700000000 + i + j),
                "half": halves[(i + j) % 4],
                "flag": (True, False, None)[(i + j) % 3],
            }
        )
    blob = b"".join(
        cbor_dumps(r, indefinite_strings=i % 2 == 1) for r in recs
    )
    if i % bad_stripe == 0:
        return blob[:-1]
    if i % lie_stripe == 0:
        return blob + b"\xff"
    return blob


def cbor_records_stats(df):
    """CBOR-sequence walk over MEDIA_SCHEMA blobs."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from gmall_flink_210726_spark.operators.multimodal import blob_stats

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("format", StringType()),
            StructField("n_records", LongType()),
            StructField("id_sum", LongType()),
            StructField("neg_sum", LongType()),
            StructField("tag_text_len", LongType()),
            StructField("blob_len_sum", LongType()),
            StructField("ts_sum", LongType()),
            StructField("half_x4_sum", LongType()),
            StructField("n_true", LongType()),
            StructField("n_null", LongType()),
        ]
    )
    return blob_stats(df, read_cbor_records, schema, "cbor")


def synthesize_cbor_media(docs):
    """MEDIA_SCHEMA table of CBOR-sequence blobs."""
    from gmall_flink_210726_spark.operators.multimodal import (
        blob_meta,
        synthesize_blobs,
    )

    return synthesize_blobs(docs, _make_cbor_blob, blob_meta("cbor"))
