"""ORC file walk — the OTHER major columnar lakehouse format
(Apache ORC specification v1, public), read from scratch on top of
the repo's own codec decoders:

- file framing: leading ``ORC`` magic; the LAST byte is the
  postscript length; the POSTSCRIPT is protobuf (footerLength,
  compression kind, compressionBlockSize, trailing ``magic`` field
  that must equal ``ORC``);
- a generic hand **protobuf** walk (varint field headers
  ``(field_num << 3) | wire_type``, varint / length-delimited /
  fixed32 / fixed64 wire types) — the third wire format beside
  Thrift compact (parquet) and Avro binary, all three now decoded
  in-repo;
- FOOTER: stripe list (offset, index/data/footer lengths, rows),
  the type tree (root struct + one LONG child, validated), file row
  count, and per-column statistics (IntegerStatistics min/max/sum,
  zigzag varints);
- COMPRESSED STREAM framing: when compression != NONE every
  metadata section and stream body is chunked with 3-byte
  little-endian headers ``(length << 1) | isOriginal``; chunk
  payloads route through the repo's hand inflate (ZLIB = raw
  DEFLATE), snappy, LZ4 block and zstd decoders;
- **RLEv2** signed integer decoding, ALL FOUR sub-encodings:
  SHORT_REPEAT (byte-width value repeated 3-10 times),
  DIRECT (5-bit width code table, big-endian bit-packed zigzag),
  DELTA (zigzag base + signed delta base + optional packed
  magnitudes, fixed-delta width-0 form), and PATCHED_BASE
  (sign-magnitude base, unsigned packed values, patch list packed
  at closestFixedBits(gap_width + patch_width) with the 255-gap
  continuation rule);
- cross-checks: stripe rows sum to the file rows, each stripe's
  DATA stream decodes exactly its row count, and the decoded
  min/max/sum must equal the footer's IntegerStatistics — the
  writer's books checked against an independent decode.

Fixtures are REAL pyarrow.orc writes; the fixture value formulas
are chosen so the C++ writer emits every sub-encoding across ids
(pinned in tests). Arrow-batched ``mapInPandas``, zero shuffle.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.wire import (
    MsbReader,
    svarint,
    unzigzag,
    uvarint,
)

_COMP_NAMES = {0: "none", 1: "zlib", 2: "snappy", 4: "lz4", 5: "zstd"}


def _pb_fields(data: bytes) -> dict[int, list]:
    """Generic protobuf message walk -> {field_num: [values]}."""
    out: dict[int, list] = {}
    pos = 0
    n = len(data)
    while pos < n:
        hdr, pos = uvarint(data, pos, n)
        fn, wt = hdr >> 3, hdr & 7
        if wt == 0:
            v, pos = uvarint(data, pos, n)
        elif wt == 2:
            ln, pos = uvarint(data, pos, n)
            if pos + ln > n:
                raise ValueError("pb: truncated bytes field")
            v = data[pos : pos + ln]
            pos += ln
        elif wt == 5:
            v = data[pos : pos + 4]
            pos += 4
        elif wt == 1:
            v = data[pos : pos + 8]
            pos += 8
        else:
            raise ValueError(f"pb: wire type {wt}")
        if pos > n:
            raise ValueError("pb: truncated fixed field")
        out.setdefault(fn, []).append(v)
    return out


def _decode_width(code: int) -> int:
    if code <= 23:
        return code + 1
    return {24: 26, 25: 28, 26: 30, 27: 32, 28: 40, 29: 48,
            30: 56, 31: 64}[code]


def _closest_fixed_bits(n: int) -> int:
    if n <= 24:
        return max(n, 1)
    for c in (26, 28, 30, 32, 40, 48, 56, 64):
        if n <= c:
            return c
    raise ValueError("fixed bits > 64")


def _svarints(body: bytes, rows: int) -> tuple[list[int], int]:
    """Decode exactly ``rows`` zigzag varints from ``body`` (the ORC
    decimal mantissa DATA stream shape); returns (values, end_pos).
    Vectorized (optimization round 14, guide §4.2): terminator bytes
    located with numpy, per-byte-position contributions OR-ed in at
    most 9 vectorized passes (~8x over the scalar loop); varints
    longer than 9 bytes (> 63-bit magnitudes, arbitrary-precision
    territory) fall back to the scalar ``svarint`` loop. Raises the
    scalar path's ValueError on truncation."""
    b = np.frombuffer(body, np.uint8)
    ends = np.flatnonzero(b < 0x80)
    if len(ends) < rows:
        raise ValueError("rle: truncated varint")
    if rows == 0:
        return [], 0
    ends = ends[:rows]
    starts = np.empty(rows, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    if int(lens.max()) > 9:  # arbitrary-precision scalar fallback
        vals, pos = [], 0
        for _ in range(rows):
            v, pos = svarint(body, pos)
            vals.append(v)
        return vals, pos
    vals = np.zeros(rows, np.uint64)
    for p in range(int(lens.max())):
        m = lens > p
        vals[m] |= (
            b[starts[m] + p].astype(np.uint64) & np.uint64(0x7F)
        ) << np.uint64(7 * p)
    return _zz_np(vals).tolist(), int(ends[-1]) + 1


def rle_v2_signed(data: bytes, n: int) -> tuple[list[int], int]:
    """ORC RLEv2 signed decode -> (values, sub-encoding bitmask)."""
    return _rle_v2(data, n, signed=True)


def rle_v2_unsigned(data: bytes, n: int) -> tuple[list[int], int]:
    """Unsigned variant (LENGTH / dictionary-index streams): no
    zigzag on SHORT_REPEAT/DIRECT values, the DELTA base is a plain
    unsigned varint (the delta base stays a signed zigzag varint)."""
    return _rle_v2(data, n, signed=False)


def _zz_np(vals):
    """Vectorized zigzag decode of uint64 values -> int64 (two's
    complement view; exact for every 64-bit pattern, matching unzigzag)."""
    return (
        (vals >> np.uint64(1)) ^ (np.uint64(0) - (vals & np.uint64(1)))
    ).view(np.int64)


def _rle_v2(
    data: bytes,
    n: int,
    signed: bool,
    runs: list | None = None,
) -> tuple[list[int], int]:
    """Shared RLEv2 walk; raises ValueError on any grammar violation
    or count mismatch. When ``runs`` is given, appends one
    ``(byte offset of run header, values decoded before it)`` pair
    per run — the boundary record ROW_INDEX positions must hit
    (operators/orc2.py cross-checks the index against it).

    Vectorized (optimization round 14, guide §4.2): the per-run value
    extraction is one numpy unpack (``MsbReader.take_np``) instead of
    one ``MsbReader.read`` per value; run-header parsing and grammar
    checks are unchanged.
    Rare shapes where int64 intermediates could overflow (DELTA with
    width > 32 or |base| >= 2^53; PATCHED_BASE with width + patch
    width > 64) take the original scalar path, ``_rle_v2_py`` —
    which also remains the executable spec documentation, pinned
    equal to this path in tests/test_codec_fastpaths.py."""
    out: list[int] = []
    pos = 0
    enc_mask = 0
    runs0 = len(runs) if runs is not None else 0
    while len(out) < n:
        if pos >= len(data):
            raise ValueError("rle: out of input")
        if runs is not None:
            runs.append((pos, len(out)))
        h = data[pos]
        enc = h >> 6
        enc_mask |= 1 << enc
        if enc == 0:  # SHORT_REPEAT
            w = ((h >> 3) & 7) + 1
            cnt = (h & 7) + 3
            if pos + 1 + w > len(data):
                raise ValueError("rle: truncated short repeat")
            v = int.from_bytes(data[pos + 1 : pos + 1 + w], "big")
            out.extend([unzigzag(v) if signed else v] * cnt)
            pos += 1 + w
        elif enc == 1:  # DIRECT
            width = _decode_width((h >> 1) & 0x1F)
            if pos + 1 >= len(data):
                raise ValueError("rle: truncated direct header")
            ln = ((h & 1) << 8 | data[pos + 1]) + 1
            bits = MsbReader(data, pos + 2)
            vals = bits.take_np(ln, width)
            bits.align()
            pos = bits.pos
            if signed:
                vals = _zz_np(vals)
            out.extend(vals.tolist())
        elif enc == 3:  # DELTA
            wcode = (h >> 1) & 0x1F
            width = 0 if wcode == 0 else _decode_width(wcode)
            if pos + 1 >= len(data):
                raise ValueError("rle: truncated delta header")
            ln = ((h & 1) << 8 | data[pos + 1]) + 1
            p = pos + 2
            if signed:
                base, p = svarint(data, p)
            else:
                base, p = uvarint(data, p)
            dbase, p = svarint(data, p)
            vals = [base]
            if ln > 1:
                vals.append(base + dbase)
            if width:
                sign = 1 if dbase >= 0 else -1
                bits = MsbReader(data, p)
                if width <= 32 and -(1 << 53) < base + dbase < (1 << 53):
                    # ln <= 2 packs no deltas (the scalar range(ln-2)
                    # no-op); a raw count of -1 is refused by take_np.
                    deltas = bits.take_np(max(ln - 2, 0), width)
                    cum = np.cumsum(deltas.astype(np.int64)) * sign + (
                        base + dbase
                    )
                    vals.extend(cum.tolist())
                else:  # overflow-safe scalar fallback
                    for _ in range(ln - 2):
                        vals.append(vals[-1] + sign * bits.read(width))
                bits.align()
                p = bits.pos
            else:
                for _ in range(ln - 2):
                    vals.append(vals[-1] + dbase)
            out.extend(vals)
            pos = p
        else:  # PATCHED_BASE
            width = _decode_width((h >> 1) & 0x1F)
            if pos + 3 >= len(data):
                raise ValueError("rle: truncated patched header")
            ln = ((h & 1) << 8 | data[pos + 1]) + 1
            b3, b4 = data[pos + 2], data[pos + 3]
            bw = ((b3 >> 5) & 7) + 1
            pwidth = _decode_width(b3 & 0x1F)
            pgw = ((b4 >> 5) & 7) + 1
            pll = b4 & 0x1F
            p = pos + 4
            if p + bw > len(data):
                raise ValueError("rle: truncated patched base")
            base = int.from_bytes(data[p : p + bw], "big")
            msb = 1 << (bw * 8 - 1)
            if base & msb:
                base = -(base & (msb - 1))
            p += bw
            if width + pwidth > 64:  # overflow-safe scalar restart
                if runs is not None:
                    del runs[runs0:]
                return _rle_v2_py(data, n, signed, runs)
            bits = MsbReader(data, p)
            vals = bits.take_np(ln, width).tolist()
            bits.align()
            entries = bits.take_np(pll, _closest_fixed_bits(pgw + pwidth))
            bits.align()
            pmask = (1 << pwidth) - 1
            gap_pos = 0
            for entry in entries.tolist():
                gap_pos += entry >> pwidth
                patch = entry & pmask
                if patch:
                    if gap_pos >= ln:
                        raise ValueError("rle: patch past run")
                    vals[gap_pos] |= patch << width
            out.extend(base + v for v in vals)
            pos = bits.pos
    if len(out) != n:
        raise ValueError("rle: run overshoots value count")
    return out, enc_mask


def _rle_v2_py(
    data: bytes,
    n: int,
    signed: bool,
    runs: list | None = None,
) -> tuple[list[int], int]:
    """From-spec scalar RLEv2 walk (the round-12/13 decoder); also the
    restart target for the vectorized path's rare overflow-risk
    shapes, and differentially pinned equal to it in
    tests/test_codec_fastpaths.py."""
    out: list[int] = []
    pos = 0
    enc_mask = 0
    while len(out) < n:
        if pos >= len(data):
            raise ValueError("rle: out of input")
        if runs is not None:
            runs.append((pos, len(out)))
        h = data[pos]
        enc = h >> 6
        enc_mask |= 1 << enc
        if enc == 0:  # SHORT_REPEAT
            w = ((h >> 3) & 7) + 1
            cnt = (h & 7) + 3
            if pos + 1 + w > len(data):
                raise ValueError("rle: truncated short repeat")
            v = int.from_bytes(data[pos + 1 : pos + 1 + w], "big")
            out.extend([unzigzag(v) if signed else v] * cnt)
            pos += 1 + w
        elif enc == 1:  # DIRECT
            width = _decode_width((h >> 1) & 0x1F)
            if pos + 1 >= len(data):
                raise ValueError("rle: truncated direct header")
            ln = ((h & 1) << 8 | data[pos + 1]) + 1
            bits = MsbReader(data, pos + 2)
            if signed:
                out.extend(unzigzag(bits.read(width)) for _ in range(ln))
            else:
                out.extend(bits.read(width) for _ in range(ln))
            bits.align()
            pos = bits.pos
        elif enc == 3:  # DELTA
            wcode = (h >> 1) & 0x1F
            width = 0 if wcode == 0 else _decode_width(wcode)
            if pos + 1 >= len(data):
                raise ValueError("rle: truncated delta header")
            ln = ((h & 1) << 8 | data[pos + 1]) + 1
            p = pos + 2
            if signed:
                base, p = svarint(data, p)
            else:
                base, p = uvarint(data, p)
            dbase, p = svarint(data, p)
            vals = [base]
            if ln > 1:
                vals.append(base + dbase)
            if width:
                bits = MsbReader(data, p)
                sign = 1 if dbase >= 0 else -1
                for _ in range(ln - 2):
                    vals.append(vals[-1] + sign * bits.read(width))
                bits.align()
                p = bits.pos
            else:
                for _ in range(ln - 2):
                    vals.append(vals[-1] + dbase)
            out.extend(vals)
            pos = p
        else:  # PATCHED_BASE
            width = _decode_width((h >> 1) & 0x1F)
            if pos + 3 >= len(data):
                raise ValueError("rle: truncated patched header")
            ln = ((h & 1) << 8 | data[pos + 1]) + 1
            b3, b4 = data[pos + 2], data[pos + 3]
            bw = ((b3 >> 5) & 7) + 1
            pwidth = _decode_width(b3 & 0x1F)
            pgw = ((b4 >> 5) & 7) + 1
            pll = b4 & 0x1F
            p = pos + 4
            if p + bw > len(data):
                raise ValueError("rle: truncated patched base")
            base = int.from_bytes(data[p : p + bw], "big")
            msb = 1 << (bw * 8 - 1)
            if base & msb:
                base = -(base & (msb - 1))
            p += bw
            bits = MsbReader(data, p)
            vals = [bits.read(width) for _ in range(ln)]
            bits.align()
            ew = _closest_fixed_bits(pgw + pwidth)
            pmask = (1 << pwidth) - 1
            gap_pos = 0
            for _ in range(pll):
                entry = bits.read(ew)
                gap_pos += entry >> pwidth
                patch = entry & pmask
                if patch:
                    if gap_pos >= ln:
                        raise ValueError("rle: patch past run")
                    vals[gap_pos] |= patch << width
            bits.align()
            out.extend(base + v for v in vals)
            pos = bits.pos
    if len(out) != n:
        raise ValueError("rle: run overshoots value count")
    return out, enc_mask


def _unframe(data: bytes, comp: int, max_out: int = 1 << 26) -> bytes:
    """Undo ORC compressed-stream chunk framing through the repo's
    hand decoders; passthrough for NONE."""
    if comp == 0:
        return data
    out = bytearray()
    pos = 0
    while pos < len(data):
        if pos + 3 > len(data):
            raise ValueError("orc: truncated chunk header")
        hdr = int.from_bytes(data[pos : pos + 3], "little")
        pos += 3
        ln = hdr >> 1
        if pos + ln > len(data):
            raise ValueError("orc: truncated chunk")
        chunk = data[pos : pos + ln]
        pos += ln
        if hdr & 1:  # isOriginal: stored uncompressed
            out += chunk
        elif comp == 1:
            from gmall_flink_210726_spark.operators.inflate import inflate

            out += inflate(chunk)
        elif comp == 2:
            from gmall_flink_210726_spark.operators.parquetmeta import (
                snappy_decompress,
            )

            out += snappy_decompress(chunk)
        elif comp == 4:
            from gmall_flink_210726_spark.operators.lz4 import (
                lz4_block_decompress,
            )

            out += lz4_block_decompress(chunk, max_out)
        elif comp == 5:
            from gmall_flink_210726_spark.operators.zstd import (
                zstd_decompress,
            )

            out += zstd_decompress(chunk)
        else:
            raise ValueError(f"orc: compression kind {comp}")
        if len(out) > max_out:
            raise ValueError("orc: stream too large")
    return bytes(out)


def read_orc_int_column(data: bytes) -> dict | None:
    """Full ORC read of a one-LONG-column file (module docstring);
    None on any framing/grammar/books violation."""
    if len(data) < 16 or data[:3] != b"ORC":
        return None
    try:
        ps_len = data[-1]
        if ps_len <= 0 or 1 + ps_len > len(data):
            return None
        ps = _pb_fields(data[-1 - ps_len : -1])
        if ps.get(8000) != [b"ORC"]:
            return None  # postscript magic
        flen = ps.get(1, [None])[0]
        comp = ps.get(2, [0])[0]
        if not isinstance(flen, int) or comp not in _COMP_NAMES:
            return None
        foot_at = len(data) - 1 - ps_len - flen
        if foot_at < 3:
            return None
        footer = _pb_fields(
            _unframe(data[foot_at : foot_at + flen], comp)
        )
        num_rows = footer.get(6, [None])[0]
        stripes = footer.get(3, [])
        types = footer.get(4, [])
        stats = footer.get(7, [])
        if not isinstance(num_rows, int) or not stripes:
            return None
        # type tree: root struct (kind 12) with exactly one LONG child
        if len(types) != 2:
            return None
        t0, t1 = _pb_fields(types[0]), _pb_fields(types[1])
        if t0.get(1, [None])[0] != 12 or t1.get(1, [0])[0] != 4:
            return None
        vals: list[int] = []
        n_stripes = 0
        enc_mask = 0
        for s in stripes:
            st = _pb_fields(s)
            try:
                off, ilen, dlen, sflen, rows = (
                    st[k][0] for k in (1, 2, 3, 4, 5)
                )
            except KeyError:
                return None
            if off + ilen + dlen + sflen > len(data):
                return None
            sf = _pb_fields(
                _unframe(
                    data[off + ilen + dlen : off + ilen + dlen + sflen],
                    comp,
                )
            )
            encs = [_pb_fields(e) if e else {} for e in sf.get(2, [])]
            if (
                len(encs) != 2
                or encs[1].get(1, [None])[0] != 2  # DIRECT_V2
            ):
                return None
            pos = off
            got_stream = False
            for sb in sf.get(1, []):
                sd = _pb_fields(sb)
                kind = sd.get(1, [0])[0]
                col = sd.get(2, [0])[0]
                ln = sd.get(3, [0])[0]
                if kind == 1 and col == 1:
                    body = _unframe(data[pos : pos + ln], comp)
                    sv, em = rle_v2_signed(body, rows)
                    vals.extend(sv)
                    enc_mask |= em
                    got_stream = True
                pos += ln
            if not got_stream:
                return None
            n_stripes += 1
        if len(vals) != num_rows:
            return None  # stripe rows must sum to the file rows
        # stats cross-check: decoded min/max/sum vs IntegerStatistics
        if len(stats) != 2:
            return None
        cs = _pb_fields(stats[1])
        ist_raw = cs.get(2, [None])[0]
        if not isinstance(ist_raw, bytes):
            return None
        ist = _pb_fields(ist_raw)
        smin = unzigzag(ist.get(1, [0])[0])
        smax = unzigzag(ist.get(2, [0])[0])
        ssum = unzigzag(ist.get(3, [0])[0])
        if (
            cs.get(1, [None])[0] != num_rows
            or smin != min(vals)
            or smax != max(vals)
            or ssum != sum(vals)
        ):
            return None  # the writer's books vs our independent decode
        return {
            "n_rows": num_rows,
            "n_stripes": n_stripes,
            "k_sum": ssum,
            "k_min": smin,
            "k_max": smax,
            "compression": _COMP_NAMES[comp],
            "enc_mask": enc_mask,
        }
    except (ValueError, IndexError, TypeError):
        return None


ORC_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("compression", StringType()),
        StructField("n_rows", LongType()),
        StructField("k_sum", LongType()),
        StructField("k_min", LongType()),
        StructField("k_max", LongType()),
    ]
)


def orc_column_stats(df: DataFrame) -> DataFrame:
    """Hand-decoded ORC column read over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_orc_int_column, ORC_SCHEMA, "orc")


def _orc_values(i: int, n: int) -> list[int]:
    """Per-mode value formulas chosen so the C++ writer emits every
    RLEv2 sub-encoding across ids (tests pin the coverage): mode 0
    7-long constant runs (SHORT_REPEAT + DIRECT), 1 arithmetic
    (DELTA), 2 bounded mix shifted negative (DIRECT), 3 small values
    with 2^40 outliers every 50th row (PATCHED_BASE)."""
    mode = i % 4
    if mode == 0:
        return [(i + r // 7) % 50 for r in range(n)]
    if mode == 1:
        return [3 * r + i for r in range(n)]
    if mode == 2:
        return [(7 * i + 3 * r) % 1000 - 500 for r in range(n)]
    return [
        ((i + r) % 64) + ((1 << 40) if r % 50 == 0 else 0)
        for r in range(n)
    ]


def _make_orc(i: int, bad_stripe: int = 17) -> bytes:
    """REAL pyarrow.orc file: one int64 column, ``2000 + (i%5)*500``
    rows, 4 KiB stripes (several per file), compression rotating
    uncompressed/zlib/snappy/zstd/lz4 by id. Every ``bad_stripe``-th
    id flips a byte inside the first stripe's data region — caught
    by codec grammar on compressed ids or by the stats-vs-decode
    cross-check on uncompressed ones."""
    import io

    import pyarrow as pa
    import pyarrow.orc as orc_mod

    n = 2000 + (i % 5) * 500
    comp = ("uncompressed", "zlib", "snappy", "zstd", "lz4")[i % 5]
    buf = io.BytesIO()
    orc_mod.write_table(
        pa.table({"k": pa.array(_orc_values(i, n), pa.int64())}),
        buf,
        compression=comp,
        stripe_size=4096,
    )
    blob = bytearray(buf.getvalue())
    if i % bad_stripe == 0:
        # locate the first stripe's DATA region through the module's
        # own postscript/footer walk and flip a byte inside it
        data = bytes(blob)
        ps_len = data[-1]
        ps = _pb_fields(data[-1 - ps_len : -1])
        flen, ck = ps[1][0], ps.get(2, [0])[0]
        foot = _pb_fields(
            _unframe(data[len(data) - 1 - ps_len - flen : -1 - ps_len], ck)
        )
        st = _pb_fields(foot[3][0])
        blob[st[1][0] + st[2][0] + 11] ^= 0x55
    return bytes(blob)


def synthesize_orc_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of real ORC files."""
    return synthesize_blobs(docs, _make_orc, blob_meta("orc"), partitions)


# --------------------------------------------------------------------------
# Nullable STRING columns: PRESENT byte-RLE + DIRECT_V2 / DICTIONARY_V2
# --------------------------------------------------------------------------


def _byte_rle(data: bytes) -> bytes:
    """ORC byte RLE (the 'Byte Run Length Encoding' the PRESENT
    stream rides on): control 0..127 = run of control+3 copies of
    the next byte; 128..255 = literal of 256-control bytes."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        c = data[pos]
        pos += 1
        if c < 128:
            if pos >= len(data):
                raise ValueError("byte rle: truncated run")
            out += bytes([data[pos]]) * (c + 3)
            pos += 1
        else:
            ln = 256 - c
            if pos + ln > len(data):
                raise ValueError("byte rle: truncated literal")
            out += data[pos : pos + ln]
            pos += ln
    return bytes(out)


def _present_bits(data: bytes, n: int) -> list[bool]:
    """PRESENT stream -> per-row booleans: byte RLE, then bits
    MSB-first; trailing pad bits must be within the last byte."""
    raw = _byte_rle(data)
    if len(raw) * 8 < n or (len(raw) - 1) * 8 >= n:
        raise ValueError("present: length mismatch")
    return [
        bool((raw[k >> 3] >> (7 - (k & 7))) & 1) for k in range(n)
    ]


def read_orc_string_column(data: bytes) -> dict | None:
    """Nullable STRING column read, both row encodings the spec
    defines for strings: DIRECT_V2 (DATA = concatenated bytes,
    LENGTH = unsigned RLEv2 per value) and DICTIONARY_V2 (DATA =
    unsigned RLEv2 dictionary indices, DICTIONARY_DATA + LENGTH
    describing the sorted dictionary), with the PRESENT stream
    (byte-RLE bit-packing) mapping values onto rows. Cross-checks:
    dictionary indices bounds-checked against the encoding's
    dictionarySize, per-stripe value counts, and the decoded
    non-null count / min / max / total length against the footer's
    StringStatistics + hasNull flag."""
    if len(data) < 16 or data[:3] != b"ORC":
        return None
    try:
        ps_len = data[-1]
        if ps_len <= 0 or 1 + ps_len > len(data):
            return None
        ps = _pb_fields(data[-1 - ps_len : -1])
        if ps.get(8000) != [b"ORC"]:
            return None
        flen = ps.get(1, [None])[0]
        comp = ps.get(2, [0])[0]
        if not isinstance(flen, int) or comp not in _COMP_NAMES:
            return None
        foot_at = len(data) - 1 - ps_len - flen
        if foot_at < 3:
            return None
        footer = _pb_fields(
            _unframe(data[foot_at : foot_at + flen], comp)
        )
        num_rows = footer.get(6, [None])[0]
        stripes = footer.get(3, [])
        types = footer.get(4, [])
        stats = footer.get(7, [])
        if not isinstance(num_rows, int) or not stripes:
            return None
        if len(types) != 2:
            return None
        t0, t1 = _pb_fields(types[0]), _pb_fields(types[1])
        if t0.get(1, [None])[0] != 12 or t1.get(1, [0])[0] != 7:
            return None  # root struct + STRING child
        strs: list[bytes] = []
        n_nulls = 0
        total_rows = 0
        used_dictionary = used_direct = False
        for s in stripes:
            st = _pb_fields(s)
            try:
                off, ilen, dlen, sflen, rows = (
                    st[k][0] for k in (1, 2, 3, 4, 5)
                )
            except KeyError:
                return None
            if off + ilen + dlen + sflen > len(data):
                return None
            sf = _pb_fields(
                _unframe(
                    data[off + ilen + dlen : off + ilen + dlen + sflen],
                    comp,
                )
            )
            encs = [_pb_fields(e) if e else {} for e in sf.get(2, [])]
            if len(encs) != 2:
                return None
            enc_kind = encs[1].get(1, [None])[0]
            dict_size = encs[1].get(2, [0])[0]
            streams: dict[int, bytes] = {}
            pos = off
            for sb in sf.get(1, []):
                sd = _pb_fields(sb)
                kind = sd.get(1, [0])[0]
                col = sd.get(2, [0])[0]
                ln = sd.get(3, [0])[0]
                if col == 1 and kind in (0, 1, 2, 3):
                    streams[kind] = _unframe(data[pos : pos + ln], comp)
                pos += ln
            if 0 in streams:
                present = _present_bits(streams[0], rows)
            else:
                present = [True] * rows
            nn = sum(present)
            n_nulls += rows - nn
            if enc_kind == 2:  # DIRECT_V2
                used_direct = True
                lengths, _ = rle_v2_unsigned(streams.get(2, b""), nn)
                body = streams.get(1, b"")
                if sum(lengths) != len(body):
                    return None  # lengths must consume DATA exactly
                at = 0
                for ln2 in lengths:
                    strs.append(body[at : at + ln2])
                    at += ln2
            elif enc_kind == 3:  # DICTIONARY_V2
                used_dictionary = True
                dlen2, _ = rle_v2_unsigned(
                    streams.get(2, b""), dict_size
                )
                dbody = streams.get(3, b"")
                if sum(dlen2) != len(dbody):
                    return None
                dvals = []
                at = 0
                for ln2 in dlen2:
                    dvals.append(dbody[at : at + ln2])
                    at += ln2
                idx, _ = rle_v2_unsigned(streams.get(1, b""), nn)
                if any(j >= dict_size or j < 0 for j in idx):
                    return None  # index past the dictionary
                strs.extend(dvals[j] for j in idx)
            else:
                return None
            total_rows += rows
        if total_rows != num_rows:
            return None
        # stats cross-check: StringStatistics min/max/sum + hasNull
        if len(stats) != 2:
            return None
        cs = _pb_fields(stats[1])
        if cs.get(1, [None])[0] != len(strs):
            return None
        has_null = cs.get(10, [0])[0]
        if bool(has_null) != (n_nulls > 0):
            return None
        ss_raw = cs.get(4, [None])[0]
        if not isinstance(ss_raw, bytes):
            return None
        ss = _pb_fields(ss_raw)
        tot_len = sum(len(b) for b in strs)
        if strs:
            if (
                ss.get(1, [None])[0] != min(strs)
                or ss.get(2, [None])[0] != max(strs)
                or unzigzag(ss.get(3, [0])[0]) != tot_len
            ):
                return None
        return {
            "n_rows": num_rows,
            "n_nulls": n_nulls,
            "n_strs": len(strs),
            "str_len_sum": tot_len,
            "min_s": min(strs).decode("utf-8", "replace") if strs else "",
            "max_s": max(strs).decode("utf-8", "replace") if strs else "",
            "used_dictionary": used_dictionary,
            "used_direct": used_direct,
        }
    except (ValueError, IndexError, TypeError):
        return None


ORCSTR_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_rows", LongType()),
        StructField("n_nulls", LongType()),
        StructField("n_strs", LongType()),
        StructField("str_len_sum", LongType()),
        StructField("min_s", StringType()),
        StructField("max_s", StringType()),
    ]
)


def orc_string_stats(df: DataFrame) -> DataFrame:
    """Hand-decoded nullable ORC string read over MEDIA_SCHEMA."""
    return blob_stats(df, read_orc_string_column, ORCSTR_SCHEMA, "orc")


def _make_orc_str(i: int, bad_stripe: int = 19) -> bytes:
    """REAL pyarrow.orc file: one nullable string column, ``1500 +
    (i%4)*400`` rows, null when (i+r)%6==0, else 'w<(i+3r)%m>' with
    m = 5 + i % 6 distinct values; row encoding alternates by id
    (odd ids set dictionary_key_size_threshold so the writer emits
    DICTIONARY_V2, even ids stay DIRECT_V2), compression rotates all
    five kinds. Every ``bad_stripe``-th id flips a byte inside the
    first stripe's data region."""
    import io

    import pyarrow as pa
    import pyarrow.orc as orc_mod

    n = 1500 + (i % 4) * 400
    m = 5 + i % 6
    vals = [
        None if (i + r) % 6 == 0 else f"w{(i + 3 * r) % m}"
        for r in range(n)
    ]
    comp = ("uncompressed", "zlib", "snappy", "zstd", "lz4")[i % 5]
    buf = io.BytesIO()
    orc_mod.write_table(
        pa.table({"s": pa.array(vals, pa.string())}),
        buf,
        compression=comp,
        stripe_size=4096,
        dictionary_key_size_threshold=0.9 if i % 2 else 0.0,
    )
    blob = bytearray(buf.getvalue())
    if i % bad_stripe == 0:
        data = bytes(blob)
        ps_len = data[-1]
        ps = _pb_fields(data[-1 - ps_len : -1])
        flen, ck = ps[1][0], ps.get(2, [0])[0]
        foot = _pb_fields(
            _unframe(data[len(data) - 1 - ps_len - flen : -1 - ps_len], ck)
        )
        st = _pb_fields(foot[3][0])
        # XOR 0xFF: a popcount-changing flip — the PRESENT bitmap's
        # bytes carry 6-7 set bits here, so the non-null count always
        # moves and the books break (0x55 can be popcount-neutral)
        blob[st[1][0] + st[2][0] + 11] ^= 0xFF
    return bytes(blob)


def synthesize_orc_str_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of real ORC string-column files."""
    return synthesize_blobs(docs, _make_orc_str, blob_meta("orc"), partitions)
