r"""Arrow IPC file (Feather V2) walk with a from-spec flatbuffer
decoder — THE interchange format of ML data pipelines (HuggingFace
datasets, Ray, Polars, Feather exports all ship Arrow IPC).  The
fixtures are written by REAL pyarrow (``pa.ipc.new_file``), so every
byte this walk trusts was produced by the reference writer; the
decoder itself is implemented from the public specs alone:

- Flatbuffers binary layout (google.github.io/flatbuffers/internals):
  root = u32 offset to table; table = i32 soffset back to its vtable;
  vtable = u16 size, u16 table size, then per-field u16 offsets
  (0 = field absent); vectors = u32 length + elements; strings =
  u32 length + utf8 bytes; structs inline; unions = (u8 type field,
  table offset field).  Implemented here as a ~40-line reader — no
  generated code, no flatbuffers library.
- Arrow IPC framing (arrow.apache.org/docs/format/Columnar.html#ipc):
  file = ``ARROW1\0\0`` magic, stream of encapsulated messages
  (0xFFFFFFFF continuation + i32 metadata length + Message
  flatbuffer + 8-aligned body), EOS marker (0xFFFFFFFF 0x00000000),
  Footer flatbuffer, i32 footer length, trailing ``ARROW1``.
- Message.fbs / Schema.fbs / File.fbs field ids are fixed by the
  Arrow spec: Message{version:0, header_type:1, header:2,
  bodyLength:3}; RecordBatch{length:0, nodes:1, buffers:2};
  Field{name:0, nullable:1, type_type:2, type:3, dictionary:4,
  children:5}; Footer{version:0, schema:1, dictionaries:2,
  recordBatches:3}; Block struct {offset:i64, metaDataLength:i32,
  (4-byte pad), bodyLength:i64}.

Trust chain, layer by layer:
- magic at BOTH ends, footer length in range;
- every footer Block's offset must equal the walk's running
  position, its metaDataLength the actual prefix+flatbuffer size,
  its bodyLength the Message's own bodyLength (three independent
  books over the same region);
- the schema message's field list must agree with the footer's
  schema (count and names) — the format stores the schema twice;
- per batch: one FieldNode per schema field, node.length == batch
  length, every buffer within the body extent;
- the NULL-COUNT BOOKS: each node's null_count must equal the
  number of zero bits in the first ``length`` bits of its validity
  buffer (an empty validity buffer means zero nulls) — a flipped
  validity bit is caught arithmetically;
- the EOS marker must sit exactly between the last batch and the
  footer.

Int64 and Utf8 columns decode fully (values summed / lengths
summed through the offsets vector — ragged buffers from pyarrow's
sliced writes handled via offs[0]..offs[n]); other types refuse.

Scale: one Arrow-batched ``mapInPandas`` map stage per blob — no
shuffle (the L17 multimodal pattern).

Reference parity note: the reference (gmall-flink Java) has no Arrow
path; this extends SURVEY §2.12's beyond-reference multimodal family.
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

_MAGIC = b"ARROW1"


# --------------------------------------------------------------------------
# Minimal flatbuffer reader (from the public binary-format spec)
# --------------------------------------------------------------------------


class _FB:
    """Flatbuffer table accessor: ``_FB(buf, pos)`` where pos is the
    table position; ``slot(fid)`` -> absolute field position or
    None when the vtable marks the field absent."""

    __slots__ = ("buf", "pos", "_vt", "_vlen")

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        so = struct.unpack_from("<i", buf, pos)[0]
        self._vt = pos - so
        if self._vt < 0 or self._vt + 4 > len(buf):
            raise ValueError("flatbuffer: vtable out of range")
        self._vlen = struct.unpack_from("<H", buf, self._vt)[0]

    def slot(self, fid: int) -> int | None:
        off = 4 + 2 * fid
        if off + 2 > self._vlen:
            return None
        rel = struct.unpack_from("<H", self.buf, self._vt + off)[0]
        return self.pos + rel if rel else None

    def u8(self, fid: int, default: int = 0) -> int:
        p = self.slot(fid)
        return self.buf[p] if p is not None else default

    def i16(self, fid: int, default: int = 0) -> int:
        p = self.slot(fid)
        return (
            struct.unpack_from("<h", self.buf, p)[0]
            if p is not None
            else default
        )

    def i32(self, fid: int, default: int = 0) -> int:
        p = self.slot(fid)
        return (
            struct.unpack_from("<i", self.buf, p)[0]
            if p is not None
            else default
        )

    def i64(self, fid: int, default: int = 0) -> int:
        p = self.slot(fid)
        return (
            struct.unpack_from("<q", self.buf, p)[0]
            if p is not None
            else default
        )

    def indirect(self, fid: int) -> int | None:
        """Follow an offset field -> child position."""
        p = self.slot(fid)
        if p is None:
            return None
        return p + struct.unpack_from("<I", self.buf, p)[0]

    def tab(self, fid: int) -> "_FB | None":
        p = self.indirect(fid)
        return _FB(self.buf, p) if p is not None else None

    def vector(self, fid: int) -> tuple[int, int] | None:
        """-> (element start, n) for a vector field."""
        p = self.indirect(fid)
        if p is None:
            return None
        n = struct.unpack_from("<I", self.buf, p)[0]
        return p + 4, n

    def string(self, fid: int) -> bytes | None:
        p = self.indirect(fid)
        if p is None:
            return None
        n = struct.unpack_from("<I", self.buf, p)[0]
        return self.buf[p + 4 : p + 4 + n]


def _root(buf: bytes) -> _FB:
    return _FB(buf, struct.unpack_from("<I", buf, 0)[0])


# Arrow Type union tags (Schema.fbs)
_TYPE_INT = 2
_TYPE_UTF8 = 5
# MessageHeader union tags (Message.fbs)
_HDR_SCHEMA = 1
_HDR_RECORD_BATCH = 3


def _parse_schema_fields(schema: _FB) -> list[tuple[bytes, str]] | None:
    """Schema table -> [(name, 'int64'|'utf8')]; None on anything
    else (unsupported type, dictionary encoding, children)."""
    vec = schema.vector(1)
    if vec is None:
        return None
    start, n = vec
    out = []
    for k in range(n):
        p = start + 4 * k
        fpos = p + struct.unpack_from("<I", schema.buf, p)[0]
        f = _FB(schema.buf, fpos)
        name = f.string(0)
        if name is None:
            return None
        if f.slot(4) is not None:
            return None  # dictionary-encoded: out of scope
        ch = f.vector(5)
        if ch is not None and ch[1] != 0:
            return None  # nested types: out of scope
        ttype = f.u8(2)
        if ttype == _TYPE_INT:
            it = f.tab(3)
            if it is None or it.i32(0) != 64 or not it.u8(1):
                return None  # only signed 64-bit ints
            out.append((name, "int64"))
        elif ttype == _TYPE_UTF8:
            out.append((name, "utf8"))
        else:
            return None
    return out


def _popcount_zero(bits: bytes, n: int) -> int:
    """Zero bits among the first n validity bits."""
    nulls = 0
    for r in range(n):
        if not bits[r >> 3] & (1 << (r & 7)):
            nulls += 1
    return nulls


def _message_at(data: bytes, pos: int) -> tuple[_FB, int, int] | None:
    """Encapsulated message at pos -> (Message fb, metadata span
    incl the 8-byte prefix, bodyLength)."""
    if data[pos : pos + 4] != b"\xff\xff\xff\xff":
        return None
    (mlen,) = struct.unpack_from("<i", data, pos + 4)
    if mlen <= 0 or pos + 8 + mlen > len(data):
        return None
    msg = _root(data[pos + 8 : pos + 8 + mlen])
    return msg, 8 + mlen, msg.i64(3)


def read_arrow_ipc(data: bytes) -> dict | None:
    """Full file walk -> table stats; None on any violation of the
    trust chain (module doc)."""
    try:
        if len(data) < 20:
            return None
        if data[:6] != _MAGIC or data[6:8] != b"\x00\x00":
            return None
        if data[-6:] != _MAGIC:
            return None
        (flen,) = struct.unpack_from("<i", data, len(data) - 10)
        foot_start = len(data) - 10 - flen
        if flen <= 0 or foot_start < 8:
            return None
        footer = _root(data[foot_start : len(data) - 10])
        schema = footer.tab(1)
        if schema is None:
            return None
        fields = _parse_schema_fields(schema)
        if fields is None:
            return None
        dicts = footer.vector(2)
        if dicts is not None and dicts[1] != 0:
            return None  # dictionary batches: out of scope
        rb_vec = footer.vector(3)
        if rb_vec is None:
            return None
        rb_start, n_blocks = rb_vec
        blocks = [
            struct.unpack_from("<qi4xq", footer.buf, rb_start + 24 * k)
            for k in range(n_blocks)
        ]

        # schema message: the format stores the schema twice — the
        # two copies must agree
        got = _message_at(data, 8)
        if got is None:
            return None
        msg, span, body_len = got
        if msg.u8(1) != _HDR_SCHEMA or body_len != 0:
            return None
        s2 = msg.tab(2)
        if s2 is None:
            return None
        fields2 = _parse_schema_fields(s2)
        if fields2 != fields:
            return None
        pos = 8 + span
        n_rows = 0
        null_counts = {name: 0 for name, _ in fields}
        int_sums = {n for n, t in fields if t == "int64"}
        sums = {name: 0 for name in int_sums}
        len_sums = {n: 0 for n, t in fields if t == "utf8"}
        for b_off, b_meta, b_body in blocks:
            if b_off != pos:
                return None  # footer offset vs the walk's position
            got = _message_at(data, pos)
            if got is None:
                return None
            msg, span, body_len = got
            if span != b_meta:
                return None  # footer metaDataLength books
            if body_len != b_body:
                return None  # footer bodyLength books
            if msg.u8(1) != _HDR_RECORD_BATCH:
                return None
            body_start = pos + span
            if body_start + body_len > foot_start:
                return None
            body = data[body_start : body_start + body_len]
            rb = msg.tab(2)
            if rb is None:
                return None
            length = rb.i64(0)
            if length < 0:
                return None
            nodes_vec = rb.vector(1)
            bufs_vec = rb.vector(2)
            if nodes_vec is None or bufs_vec is None:
                return None
            if rb.slot(3) is not None:
                return None  # compressed bodies: out of scope
            nstart, nn = nodes_vec
            bstart, nb = bufs_vec
            if nn != len(fields):
                return None
            want_bufs = sum(
                2 if t == "int64" else 3 for _n, t in fields
            )
            if nb != want_bufs:
                return None
            nodes = [
                struct.unpack_from("<qq", rb.buf, nstart + 16 * k)
                for k in range(nn)
            ]
            bufs = [
                struct.unpack_from("<qq", rb.buf, bstart + 16 * k)
                for k in range(nb)
            ]
            for off, ln in bufs:
                if off < 0 or ln < 0 or off + ln > body_len:
                    return None
            bi = 0
            for (name, typ), (nlen, ncount) in zip(fields, nodes):
                if nlen != length:
                    return None  # every column spans the batch
                v_off, v_len = bufs[bi]
                bi += 1
                if v_len == 0:
                    if ncount != 0:
                        return None  # nulls claimed, no validity
                else:
                    if v_len * 8 < length:
                        return None
                    bits = body[v_off : v_off + v_len]
                    if _popcount_zero(bits, length) != ncount:
                        return None  # the null-count books
                if typ == "int64":
                    d_off, d_len = bufs[bi]
                    bi += 1
                    if d_len < 8 * length:
                        return None
                    vals = struct.unpack_from(
                        "<%dq" % length, body, d_off
                    )
                    if v_len == 0:
                        sums[name] += sum(vals)
                    else:
                        sums[name] += sum(
                            v
                            for r, v in enumerate(vals)
                            if bits[r >> 3] & (1 << (r & 7))
                        )
                else:
                    o_off, o_len = bufs[bi]
                    bi += 1
                    d_off, d_len = bufs[bi]
                    bi += 1
                    if o_len < 4 * (length + 1):
                        return None
                    offs = struct.unpack_from(
                        "<%di" % (length + 1), body, o_off
                    )
                    if any(
                        offs[r] > offs[r + 1] for r in range(length)
                    ):
                        return None
                    if offs[0] < 0 or offs[length] > d_len:
                        return None  # offsets must stay in-buffer
                    len_sums[name] += offs[length] - offs[0]
                null_counts[name] += ncount
            n_rows += length
            pos = body_start + body_len
        if data[pos : pos + 8] != b"\xff\xff\xff\xff\x00\x00\x00\x00":
            return None  # EOS marker
        if pos + 8 != foot_start:
            return None  # nothing may hide between EOS and footer
        return {
            "n_batches": len(blocks),
            "n_rows": n_rows,
            "n_cols": len(fields),
            "null_count": sum(null_counts.values()),
            "k_sum": sums.get(b"k", 0),
            "m_sum": sums.get(b"m", 0),
            "s_len_sum": sum(len_sums.values()),
        }
    except (ValueError, struct.error, IndexError):
        return None


# --------------------------------------------------------------------------
# Spark wrapper: one ``blob_stats`` call (operators/multimodal.py)
# --------------------------------------------------------------------------

ARROW_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_batches", LongType()),
        StructField("n_rows", LongType()),
        StructField("n_cols", LongType()),
        StructField("null_count", LongType()),
        StructField("k_sum", LongType()),
        StructField("m_sum", LongType()),
        StructField("s_len_sum", LongType()),
    ]
)


def arrow_ipc_stats(df: DataFrame) -> DataFrame:
    """Arrow IPC file walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_arrow_ipc, ARROW_SCHEMA, "arrow")


# --------------------------------------------------------------------------
# Fixture synthesis: REAL pyarrow files, then surgical byte lies at
# positions located by this module's own walk
# --------------------------------------------------------------------------


def _arrow_n(i: int) -> int:
    return 40 + i % 60


def _arrow_k(i: int, r: int) -> int:
    return (7 * i + 3 * r) % 1000


def _arrow_m_null(i: int, r: int) -> bool:
    return (r + i) % 6 == 0


def _arrow_m(i: int, r: int) -> int:
    return (5 * i + r) % 100


def _locate_batch0(data: bytes) -> tuple[int, int, int]:
    """-> (block0 offset, metaDataLength, footer vec position of the
    Block array) via the same flatbuffer walk the reader uses."""
    (flen,) = struct.unpack_from("<i", data, len(data) - 10)
    foot_start = len(data) - 10 - flen
    footer = _root(data[foot_start : len(data) - 10])
    rb_start, _n = footer.vector(3)
    off, meta, _body = struct.unpack_from(
        "<qi4xq", footer.buf, rb_start
    )
    return off, meta, foot_start + rb_start


def make_arrow_ipc(i: int) -> bytes:
    """Real pyarrow IPC file: columns k (int64), m (nullable int64),
    s (utf8); ``40 + i%60`` rows in 16-row batches. Lies (surgical
    byte patches on the real file): every 13th id flips one validity
    BIT of column m in batch 0 without touching the written
    null_count (the null books refuse); every 17th-miss id adds 8 to
    footer block 0's metaDataLength (books vs the actual message
    prefix refuse); every 19th-miss id flips a byte of the EOS
    marker (refused)."""
    import io

    import pyarrow as pa

    n = _arrow_n(i)
    t = pa.table(
        {
            "k": pa.array(
                [_arrow_k(i, r) for r in range(n)], pa.int64()
            ),
            "m": pa.array(
                [
                    None
                    if _arrow_m_null(i, r)
                    else _arrow_m(i, r)
                    for r in range(n)
                ],
                pa.int64(),
            ),
            "s": pa.array(
                ["s%d" % ((i + r) % 50) for r in range(n)]
            ),
        }
    )
    buf = io.BytesIO()
    with pa.ipc.new_file(buf, t.schema) as w:
        w.write_table(t, max_chunksize=16)
    blob = bytearray(buf.getvalue())
    if i % 13 == 0:
        # batch 0, column m's validity buffer: byte surgery found by
        # the module's own walk
        off, meta, _vp = _locate_batch0(bytes(blob))
        msg = _root(bytes(blob[off + 8 : off + meta]))
        rb = msg.tab(2)
        bstart, _nb = rb.vector(2)
        # buffers: k-validity, k-data, m-validity, m-data, ...
        m_v_off, m_v_len = struct.unpack_from(
            "<qq", rb.buf, bstart + 16 * 2
        )
        assert m_v_len > 0
        body_start = off + meta
        blob[body_start + m_v_off] ^= 0x02  # flip row 1's bit
    elif i % 17 == 0:
        off, meta, vec_pos = _locate_batch0(bytes(blob))
        struct.pack_into("<i", blob, vec_pos + 8, meta + 8)
    elif i % 19 == 0:
        (flen,) = struct.unpack_from("<i", blob, len(blob) - 10)
        foot_start = len(blob) - 10 - flen
        blob[foot_start - 8] ^= 0x01  # EOS continuation byte
    return bytes(blob)


def synthesize_arrow_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of Arrow IPC files."""
    return synthesize_blobs(docs, make_arrow_ipc, blob_meta("arrow"))


# --------------------------------------------------------------------------
# Dictionary-encoded columns (Columnar.md "Dictionary Messages").
# A dictionary field's schema entry carries a DictionaryEncoding
# {id:0 long, indexType:1 Int, isOrdered:2}; the dictionary VALUES
# arrive in DictionaryBatch messages (header type 2: {id:0,
# data:1 RecordBatch, isDelta:2}) listed in the footer's
# ``dictionaries`` blocks; record batches then carry int32 INDEX
# arrays for those columns.  Trust: every dictionary id delivered
# exactly once before use, isDelta unsupported (refused), every
# index bounds-checked against its dictionary length, the
# dictionary's own utf8 offsets monotonic — a batch whose indices
# point past the dictionary is lying about its values.
# --------------------------------------------------------------------------

_HDR_DICT_BATCH = 2


def _dict_schema_fields(
    schema: _FB,
) -> list[tuple[bytes, str, int | None]] | None:
    """Schema -> [(name, 'int64'|'utf8', dict_id|None)]; None on
    unsupported shapes (the dict value type must be utf8, indices
    int32 signed)."""
    vec = schema.vector(1)
    if vec is None:
        return None
    start, n = vec
    out = []
    for k in range(n):
        p = start + 4 * k
        fpos = p + struct.unpack_from("<I", schema.buf, p)[0]
        f = _FB(schema.buf, fpos)
        name = f.string(0)
        if name is None:
            return None
        ch = f.vector(5)
        if ch is not None and ch[1] != 0:
            return None
        ttype = f.u8(2)
        denc = f.tab(4)
        if denc is not None:
            if ttype != _TYPE_UTF8:
                return None  # fixture scope: dict<utf8> only
            it = denc.tab(1)
            if it is None or it.i32(0) != 32 or not it.u8(1):
                return None  # int32 signed indices only
            out.append((name, "utf8", denc.i64(0)))
        elif ttype == _TYPE_INT:
            it = f.tab(3)
            if it is None or it.i32(0) != 64 or not it.u8(1):
                return None
            out.append((name, "int64", None))
        elif ttype == _TYPE_UTF8:
            out.append((name, "utf8", None))
        else:
            return None
    return out


def read_arrow_dict(data: bytes) -> dict | None:
    """Arrow IPC file with dictionary-encoded columns -> stats; None
    on any violation (section doc + the base walk's books)."""
    try:
        if len(data) < 20 or data[:6] != _MAGIC or data[-6:] != _MAGIC:
            return None
        (flen,) = struct.unpack_from("<i", data, len(data) - 10)
        foot_start = len(data) - 10 - flen
        if flen <= 0 or foot_start < 8:
            return None
        footer = _root(data[foot_start : len(data) - 10])
        schema = footer.tab(1)
        if schema is None:
            return None
        fields = _dict_schema_fields(schema)
        if fields is None:
            return None
        dict_ids = [d for _n, _t, d in fields if d is not None]
        if len(set(dict_ids)) != len(dict_ids):
            return None

        def _blocks(fid: int) -> list[tuple[int, int, int]] | None:
            vec = footer.vector(fid)
            if vec is None:
                return None
            start, n = vec
            return [
                struct.unpack_from(
                    "<qi4xq", footer.buf, start + 24 * k
                )
                for k in range(n)
            ]

        d_blocks = _blocks(2) or []
        r_blocks = _blocks(3)
        if r_blocks is None:
            return None
        got = _message_at(data, 8)
        if got is None:
            return None
        msg, span, body_len = got
        if msg.u8(1) != _HDR_SCHEMA or body_len != 0:
            return None
        s2 = msg.tab(2)
        if s2 is None or _dict_schema_fields(s2) != fields:
            return None
        pos = 8 + span
        # dictionary messages: each id exactly once, before batches
        dicts: dict[int, list[bytes]] = {}
        for b_off, b_meta, b_body in d_blocks:
            if b_off != pos:
                return None
            got = _message_at(data, pos)
            if got is None:
                return None
            msg, span, body_len = got
            if span != b_meta or body_len != b_body:
                return None
            if msg.u8(1) != _HDR_DICT_BATCH:
                return None
            db = msg.tab(2)
            if db is None:
                return None
            if db.u8(2):
                return None  # isDelta unsupported
            did = db.i64(0)
            if did in dicts or did not in dict_ids:
                return None
            rb = db.tab(1)
            if rb is None:
                return None
            body = data[pos + span : pos + span + body_len]
            vals = _decode_utf8_array(rb, body)
            if vals is None:
                return None
            dicts[did] = vals
            pos += span + body_len
        if set(dicts) != set(dict_ids):
            return None  # every declared dictionary must arrive
        n_rows = 0
        k_sum = 0
        code_sum = 0
        cat_len_sum = 0
        for b_off, b_meta, b_body in r_blocks:
            if b_off != pos:
                return None
            got = _message_at(data, pos)
            if got is None:
                return None
            msg, span, body_len = got
            if span != b_meta or body_len != b_body:
                return None
            if msg.u8(1) != _HDR_RECORD_BATCH:
                return None
            body = data[pos + span : pos + span + body_len]
            rb = msg.tab(2)
            if rb is None:
                return None
            length = rb.i64(0)
            nodes_vec = rb.vector(1)
            bufs_vec = rb.vector(2)
            if length < 0 or nodes_vec is None or bufs_vec is None:
                return None
            if rb.slot(3) is not None:
                return None  # compressed bodies: out of scope
            nstart, nn = nodes_vec
            bstart, nb = bufs_vec
            if nn != len(fields):
                return None
            bufs = [
                struct.unpack_from("<qq", rb.buf, bstart + 16 * k)
                for k in range(nb)
            ]
            for off, ln in bufs:
                if off < 0 or ln < 0 or off + ln > body_len:
                    return None
            bi = 0
            for fi, (name, typ, did) in enumerate(fields):
                nlen, ncount = struct.unpack_from(
                    "<qq", rb.buf, nstart + 16 * fi
                )
                if nlen != length:
                    return None
                v_off, v_len = bufs[bi]
                bi += 1
                bits = body[v_off : v_off + v_len]
                if v_len == 0 and ncount != 0:
                    return None
                if v_len and _popcount_zero(bits, length) != ncount:
                    return None
                if did is not None:
                    d_off, d_len = bufs[bi]
                    bi += 1
                    if d_len < 4 * length:
                        return None
                    idxs = struct.unpack_from(
                        "<%di" % length, body, d_off
                    )
                    dvals = dicts[did]
                    for r, ix in enumerate(idxs):
                        if v_len and not (
                            bits[r >> 3] & (1 << (r & 7))
                        ):
                            continue
                        if not 0 <= ix < len(dvals):
                            return None  # index past the dictionary
                        code_sum += ix
                        cat_len_sum += len(dvals[ix])
                elif typ == "int64":
                    d_off, d_len = bufs[bi]
                    bi += 1
                    if d_len < 8 * length:
                        return None
                    vals = struct.unpack_from(
                        "<%dq" % length, body, d_off
                    )
                    k_sum += sum(vals)
                else:
                    bi += 2  # plain utf8: offsets + data
            if bi != nb:
                return None
            n_rows += length
            pos += span + body_len
        if data[pos : pos + 8] != b"\xff\xff\xff\xff\x00\x00\x00\x00":
            return None
        if pos + 8 != foot_start:
            return None
        return {
            "n_batches": len(r_blocks),
            "n_rows": n_rows,
            "dict_size": sum(len(v) for v in dicts.values()),
            "k_sum": k_sum,
            "code_sum": code_sum,
            "cat_len_sum": cat_len_sum,
        }
    except (ValueError, struct.error, IndexError):
        return None


def _decode_utf8_array(rb: _FB, body: bytes) -> list[bytes] | None:
    """Single-field utf8 RecordBatch (a dictionary's values) ->
    list of byte strings; None on any violation."""
    length = rb.i64(0)
    nodes_vec = rb.vector(1)
    bufs_vec = rb.vector(2)
    if length < 0 or nodes_vec is None or bufs_vec is None:
        return None
    if rb.slot(3) is not None:
        return None  # compressed bodies: out of scope
    if nodes_vec[1] != 1 or bufs_vec[1] != 3:
        return None
    bstart = bufs_vec[0]
    bufs = [
        struct.unpack_from("<qq", rb.buf, bstart + 16 * k)
        for k in range(3)
    ]
    for off, ln in bufs:
        if off < 0 or ln < 0 or off + ln > len(body):
            return None
    o_off, o_len = bufs[1]
    d_off, d_len = bufs[2]
    if o_len < 4 * (length + 1):
        return None
    offs = struct.unpack_from("<%di" % (length + 1), body, o_off)
    if any(offs[r] > offs[r + 1] for r in range(length)):
        return None  # offsets must be monotonic
    if offs[0] < 0 or offs[length] > d_len:
        return None
    return [
        body[d_off + offs[r] : d_off + offs[r + 1]]
        for r in range(length)
    ]


DICT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_batches", LongType()),
        StructField("n_rows", LongType()),
        StructField("dict_size", LongType()),
        StructField("k_sum", LongType()),
        StructField("code_sum", LongType()),
        StructField("cat_len_sum", LongType()),
    ]
)


def arrow_dict_stats(df: DataFrame) -> DataFrame:
    """Dictionary-encoded Arrow IPC walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_arrow_dict, DICT_SCHEMA, "arrow-dict")


def _adict_n(i: int) -> int:
    return 30 + i % 50


def _adict_nc(i: int) -> int:
    return 3 + i % 5


def make_arrow_dict(i: int) -> bytes:
    """Real pyarrow IPC file with a dictionary-encoded utf8 column
    ``d`` (categories ``cat<(i+r) % nc>``, first-appearance order so
    row r's code is ``r % nc``) next to a plain int64 ``k``;
    ``30 + i%50`` rows in 16-row batches. Lies (surgical patches):
    every 13th id rewrites one index in batch 0 to the dictionary
    size (bounds refuse); every 17th-miss id adds 8 to the footer
    DICTIONARY block's metaDataLength (books refuse); every
    19th-miss id makes the dictionary's utf8 offsets non-monotonic
    (refused)."""
    import io

    import pyarrow as pa

    n = _adict_n(i)
    nc = _adict_nc(i)
    t = pa.table(
        {
            "k": pa.array(
                [_arrow_k(i, r) for r in range(n)], pa.int64()
            ),
            "d": pa.array(
                ["cat%d" % ((i + r) % nc) for r in range(n)]
            ).dictionary_encode(),
        }
    )
    buf = io.BytesIO()
    with pa.ipc.new_file(buf, t.schema) as w:
        w.write_table(t, max_chunksize=16)
    blob = bytearray(buf.getvalue())
    (flen,) = struct.unpack_from("<i", blob, len(blob) - 10)
    foot_start = len(blob) - 10 - flen
    footer = _root(bytes(blob[foot_start : len(blob) - 10]))
    d_start, _dn = footer.vector(2)
    r_start, _rn = footer.vector(3)
    if i % 13 == 0:
        off, meta, _body = struct.unpack_from(
            "<qi4xq", footer.buf, r_start
        )
        msg = _root(bytes(blob[off + 8 : off + meta]))
        rb = msg.tab(2)
        bstart, _nb = rb.vector(2)
        # buffers: k-validity, k-data, d-validity, d-indices
        ix_off, ix_len = struct.unpack_from(
            "<qq", rb.buf, bstart + 16 * 3
        )
        assert ix_len >= 4
        struct.pack_into(
            "<i", blob, off + meta + ix_off, nc
        )  # index == dict size: out of bounds
    elif i % 17 == 0:
        _off, meta, _body = struct.unpack_from(
            "<qi4xq", footer.buf, d_start
        )
        struct.pack_into(
            "<i", blob, foot_start + d_start + 8, meta + 8
        )
    elif i % 19 == 0:
        off, meta, _body = struct.unpack_from(
            "<qi4xq", footer.buf, d_start
        )
        msg = _root(bytes(blob[off + 8 : off + meta]))
        db = msg.tab(2)
        rb = db.tab(1)
        bstart, _nb = rb.vector(2)
        o_off, o_len = struct.unpack_from(
            "<qq", rb.buf, bstart + 16 * 1
        )
        # offsets[1] beyond offsets[2]: non-monotonic
        struct.pack_into(
            "<i", blob, off + meta + o_off + 4, 1 << 20
        )
    return bytes(blob)


def synthesize_arrow_dict_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of dictionary-encoded Arrow IPC files."""
    return synthesize_blobs(docs, make_arrow_dict, blob_meta("arrow"))
