"""Baseline TIFF decode with stdlib alone — no codec libraries.

Beyond-reference surface (BASELINE.json north star): the sixth real
codec next to BMP/WAV (operators/multimodal.py), PNG (stdlib zlib),
baseline JPEG (operators/jpeg.py) and GIF89a (operators/gif.py).
Everything here is from the public TIFF 6.0 specification: the
byte-order header (II little / MM big endian, magic 42), the IFD
entry walk (tag, type, count, inline-value-or-offset — the 4-byte
inline rule INCLUDING short arrays packed into the value field), and
multi-strip pixel data via StripOffsets / StripByteCounts /
RowsPerStrip.

Supported subset (honestly bounded): uncompressed (Compression=1) or
PackBits (Compression=32773, the TIFF 6.0 §9 byte-run scheme: a signed
count byte selecting literal-copy or repeat, rows compressed
independently) 8-bit grayscale or RGB (SamplesPerPixel 1 or 3), single
IFD, no tiles, no planar configuration 2. Anything else raises
ValueError and the Spark operator degrades the row to
format='unknown'.

Fixture strategy (the gif/_make_jpeg pattern): the synthesizer writes
REAL multi-strip TIFFs (RowsPerStrip=2 so the strip walk actually
executes) with pixel values from LCG formulas in (id, position,
channel) that a DuckDB oracle recomputes blind; odd ids are written
big-endian (MM) so BOTH byte orders are exercised on-wire.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.wire import MsbReader, MsbWriter

# ---------------------------------------------------------------- fixture
# formulas shared with the DuckDB oracle in queries/llm7.py
_TIF_W = lambda i: 2 + i % 11  # noqa: E731
_TIF_H = lambda i: 1 + i % 7  # noqa: E731
_TIF_BAD = lambda i: i % 9 == 0  # noqa: E731
_TIF_V = lambda i, p, ch: (i * 23 + 5 * p + 11 * ch) % 256  # noqa: E731
_ROWS_PER_STRIP = 2

# PackBits fixture (grayscale, runs of 5 so both repeat-runs and
# literal segments are emitted; formulas shared with the DuckDB oracle)
_TPB_W = lambda i: 4 + i % 9  # noqa: E731
_TPB_H = lambda i: 1 + i % 6  # noqa: E731
_TPB_BAD = lambda i: i % 8 == 0  # noqa: E731
_TPB_V = lambda i, p: (i * 37 + 11 * (p // 5)) % 256  # noqa: E731

TIFF_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_pixels", LongType()),
        StructField("rgb_sum", LongType()),
    ]
)


def _make_tiff(i: int) -> bytes:
    w, h = _TIF_W(i), _TIF_H(i)
    big = i % 2 == 1
    e = ">" if big else "<"
    pix = bytes(
        _TIF_V(i, p, ch) for p in range(w * h) for ch in range(3)
    )
    # strips of _ROWS_PER_STRIP rows each
    strips = []
    for r0 in range(0, h, _ROWS_PER_STRIP):
        nrows = min(_ROWS_PER_STRIP, h - r0)
        strips.append(pix[r0 * w * 3 : (r0 + nrows) * w * 3])
    n_strips = len(strips)

    # layout: header(8) | bits-per-sample array(6) | offset arrays |
    # strip data | IFD
    bits_off = 8
    so_off = bits_off + 6  # strip offsets array (LONG each)
    sbc_off = so_off + 4 * n_strips
    data_off = sbc_off + 4 * n_strips
    offs, lens, pos = [], [], data_off
    for s in strips:
        offs.append(pos)
        lens.append(len(s))
        pos += len(s)
    ifd_off = pos

    def entry(tag, typ, count, value):
        return struct.pack(e + "HHI", tag, typ, count) + value

    def short_v(v):
        return struct.pack(e + "HH", v, 0)

    def long_v(v):
        return struct.pack(e + "I", v)

    entries = [
        entry(256, 3, 1, short_v(w)),  # ImageWidth
        entry(257, 3, 1, short_v(h)),  # ImageLength
        entry(258, 3, 3, long_v(bits_off)),  # BitsPerSample -> offset
        entry(259, 3, 1, short_v(1)),  # Compression: none
        entry(262, 3, 1, short_v(2)),  # Photometric: RGB
        entry(
            273,
            4,
            n_strips,
            long_v(so_off) if n_strips > 1 else long_v(offs[0]),
        ),  # StripOffsets
        entry(277, 3, 1, short_v(3)),  # SamplesPerPixel
        entry(278, 3, 1, short_v(_ROWS_PER_STRIP)),  # RowsPerStrip
        entry(
            279,
            4,
            n_strips,
            long_v(sbc_off) if n_strips > 1 else long_v(lens[0]),
        ),  # StripByteCounts
    ]
    blob = bytearray()
    blob += (b"MM" if big else b"II") + struct.pack(e + "HI", 42, ifd_off)
    blob += struct.pack(e + "HHH", 8, 8, 8)
    blob += b"".join(struct.pack(e + "I", o) for o in offs)
    blob += b"".join(struct.pack(e + "I", n) for n in lens)
    for s in strips:
        blob += s
    blob += struct.pack(e + "H", len(entries)) + b"".join(entries)
    blob += struct.pack(e + "I", 0)  # no next IFD
    out = bytes(blob)
    if _TIF_BAD(i):
        return out[: max(8, len(out) * 2 // 5)]  # drops strips and/or IFD
    return out


# ------------------------------------------------------------- packbits


def _packbits_encode(row: bytes) -> bytes:
    """TIFF 6.0 §9 PackBits for ONE row (rows compress independently):
    repeats of >= 3 become (1-run, value) with the count as a signed
    negative byte; everything else is literal segments (len-1, bytes).
    Max segment 128 either way; -128 is reserved as a no-op."""
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        j = i
        while j < n - 1 and row[j] == row[j + 1] and j - i < 127:
            j += 1
        run = j - i + 1
        if run >= 3:
            out.append((257 - run) & 0xFF)  # signed -(run-1)
            out.append(row[i])
            i = j + 1
        else:
            k = i
            while k < n and k - i < 128:
                if k + 2 < n and row[k] == row[k + 1] == row[k + 2]:
                    break
                k += 1
            out.append(k - i - 1)
            out += row[i:k]
            i = k
    return bytes(out)


def _packbits_decode(src: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    while len(out) < expected:
        if i >= len(src):
            raise ValueError("packbits source exhausted")
        n = src[i]
        i += 1
        if n == 128:  # -128: no-op
            continue
        if n < 128:  # literal: next n+1 bytes
            if i + n + 1 > len(src):
                raise ValueError("packbits literal overrun")
            out += src[i : i + n + 1]
            i += n + 1
        else:  # repeat next byte 257-n times
            if i >= len(src):
                raise ValueError("packbits run overrun")
            out += bytes([src[i]]) * (257 - n)
            i += 1
    if len(out) != expected:
        raise ValueError("packbits length mismatch")
    return bytes(out)


def _make_tiff_packbits(i: int) -> bytes:
    """REAL PackBits-compressed grayscale TIFF; odd ids big-endian,
    _TPB_BAD ids truncated mid-strip."""
    w, h = _TPB_W(i), _TPB_H(i)
    e = ">" if i % 2 == 1 else "<"
    pix = bytes(_TPB_V(i, p) for p in range(w * h))
    strips = []
    for r0 in range(0, h, _ROWS_PER_STRIP):
        nrows = min(_ROWS_PER_STRIP, h - r0)
        # rows compressed independently within the strip (spec rule)
        strips.append(
            b"".join(
                _packbits_encode(pix[(r0 + r) * w : (r0 + r + 1) * w])
                for r in range(nrows)
            )
        )
    n_strips = len(strips)
    so_off = 8
    sbc_off = so_off + 4 * n_strips
    data_off = sbc_off + 4 * n_strips
    offs, lens, pos = [], [], data_off
    for s in strips:
        offs.append(pos)
        lens.append(len(s))
        pos += len(s)
    ifd_off = pos

    def entry(tag, typ, count, value):
        return struct.pack(e + "HHI", tag, typ, count) + value

    short_v = lambda v: struct.pack(e + "HH", v, 0)  # noqa: E731
    long_v = lambda v: struct.pack(e + "I", v)  # noqa: E731
    entries = [
        entry(256, 3, 1, short_v(w)),
        entry(257, 3, 1, short_v(h)),
        entry(258, 3, 1, short_v(8)),  # BitsPerSample: one 8-bit sample
        entry(259, 3, 1, short_v(32773)),  # Compression: PackBits
        entry(262, 3, 1, short_v(1)),  # Photometric: BlackIsZero
        entry(
            273,
            4,
            n_strips,
            long_v(so_off) if n_strips > 1 else long_v(offs[0]),
        ),
        entry(277, 3, 1, short_v(1)),  # SamplesPerPixel: grayscale
        entry(278, 3, 1, short_v(_ROWS_PER_STRIP)),
        entry(
            279,
            4,
            n_strips,
            long_v(sbc_off) if n_strips > 1 else long_v(lens[0]),
        ),
    ]
    blob = bytearray()
    blob += (b"MM" if e == ">" else b"II") + struct.pack(e + "HI", 42, ifd_off)
    blob += b"".join(struct.pack(e + "I", o) for o in offs)
    blob += b"".join(struct.pack(e + "I", n) for n in lens)
    for s in strips:
        blob += s
    blob += struct.pack(e + "H", len(entries)) + b"".join(entries)
    blob += struct.pack(e + "I", 0)
    out = bytes(blob)
    if _TPB_BAD(i):
        return out[: max(8, len(out) * 2 // 5)]
    return out


# ----------------------------------------------------------------- lzw


def _lzw_encode(data: bytes) -> bytes:
    """TIFF 6.0 §13 LZW for ONE strip: MSB-first bit packing, 9-bit
    codes growing to 12, ClearCode=256 / EOI=257, and the TIFF
    "early change" — the code width bumps when the table reaches
    2^width - 1 entries (511/1023/2047), one earlier than plain LZW,
    which is exactly what keeps the one-entry-behind decoder's width
    in lockstep with the encoder's."""
    bw = MsbWriter()
    width, next_code = 9, 258
    table: dict[bytes, int] = {bytes([b]): b for b in range(256)}
    bw.write(256, width)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        bw.write(table[w], width)
        table[wc] = next_code
        next_code += 1
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        elif next_code >= 4094:  # keep 4094/4095 free: clear + restart
            bw.write(256, width)
            table = {bytes([b]): b for b in range(256)}
            next_code, width = 258, 9
        w = bytes([ch])
    if w:
        bw.write(table[w], width)
    bw.write(257, width)
    bw.align()
    return bw.bytes()


def _lzw_decode(src: bytes, expected: int) -> bytes:
    """Strip-wise TIFF LZW decode (§13): the dictionary runs one entry
    behind the encoder, so the early-change width bump at 2^width - 1
    lands on the same code boundary; KwKwK (code == next) resolves to
    prev + prev[0]; any code beyond next is corrupt."""
    out = bytearray()
    read = MsbReader(src).read
    width, next_code = 9, 258
    table: dict[int, bytes] = {b: bytes([b]) for b in range(256)}
    prev: bytes | None = None
    while len(out) < expected:
        code = read(width)
        if code == 257:  # EOI before enough pixels
            raise ValueError("lzw stream short")
        if code == 256:
            table = {b: bytes([b]) for b in range(256)}
            next_code, width = 258, 9
            prev = None
            continue
        if prev is None:  # first code after (implicit) clear
            if code >= 256:
                raise ValueError("lzw bad first code")
            entry = table[code]
        elif code < next_code:
            entry = table[code]
        elif code == next_code:  # KwKwK
            entry = prev + prev[:1]
        else:
            raise ValueError("lzw code out of range")
        out += entry
        if prev is not None and next_code < 4094:
            table[next_code] = prev + entry[:1]
            next_code += 1
            # early change, decoder side: the table here runs ONE
            # entry behind the encoder's, so the width must bump at
            # 2^w - 2 entries (510/1022/2046) for the next read to
            # land on the boundary where the encoder (which bumps at
            # 2^w - 1 after its add) started writing wider codes
            if next_code == (1 << width) - 2 and width < 12:
                width += 1
        prev = entry
    if len(out) != expected:
        raise ValueError("lzw length mismatch")
    return bytes(out)


# LZW fixture: big enough strips (16 rows) that the dictionary crosses
# 511 entries and the 9->10-bit early change actually executes; runs
# of 3 in the value formula feed both fresh and repeated phrases
_TLZ_W = lambda i: 16 + i % 17  # noqa: E731
_TLZ_H = lambda i: 10 + i % 11  # noqa: E731
_TLZ_BAD = lambda i: i % 12 == 0  # noqa: E731
_TLZ_V = lambda i, p: (i * 29 + 7 * (p // 3)) % 256  # noqa: E731
_LZW_ROWS_PER_STRIP = 16


def _make_tiff_lzw(i: int) -> bytes:
    """REAL LZW-compressed grayscale TIFF (Compression=5, one LZW
    stream per strip); odd ids big-endian, _TLZ_BAD ids truncated
    mid-strip so the LZW error surface executes."""
    w, h = _TLZ_W(i), _TLZ_H(i)
    e = ">" if i % 2 == 1 else "<"
    pix = bytes(_TLZ_V(i, p) for p in range(w * h))
    strips = []
    for r0 in range(0, h, _LZW_ROWS_PER_STRIP):
        nrows = min(_LZW_ROWS_PER_STRIP, h - r0)
        strips.append(_lzw_encode(pix[r0 * w : (r0 + nrows) * w]))
    n_strips = len(strips)
    so_off = 8
    sbc_off = so_off + 4 * n_strips
    data_off = sbc_off + 4 * n_strips
    offs, lens, pos = [], [], data_off
    for s in strips:
        offs.append(pos)
        lens.append(len(s))
        pos += len(s)
    ifd_off = pos

    def entry(tag, typ, count, value):
        return struct.pack(e + "HHI", tag, typ, count) + value

    short_v = lambda v: struct.pack(e + "HH", v, 0)  # noqa: E731
    long_v = lambda v: struct.pack(e + "I", v)  # noqa: E731
    entries = [
        entry(256, 3, 1, short_v(w)),
        entry(257, 3, 1, short_v(h)),
        entry(258, 3, 1, short_v(8)),
        entry(259, 3, 1, short_v(5)),  # Compression: LZW
        entry(262, 3, 1, short_v(1)),
        entry(
            273,
            4,
            n_strips,
            long_v(so_off) if n_strips > 1 else long_v(offs[0]),
        ),
        entry(277, 3, 1, short_v(1)),
        entry(278, 3, 1, short_v(_LZW_ROWS_PER_STRIP)),
        entry(
            279,
            4,
            n_strips,
            long_v(sbc_off) if n_strips > 1 else long_v(lens[0]),
        ),
    ]
    blob = bytearray()
    blob += (b"MM" if e == ">" else b"II") + struct.pack(e + "HI", 42, ifd_off)
    blob += b"".join(struct.pack(e + "I", o) for o in offs)
    blob += b"".join(struct.pack(e + "I", n) for n in lens)
    for s in strips:
        blob += s
    blob += struct.pack(e + "H", len(entries)) + b"".join(entries)
    blob += struct.pack(e + "I", 0)
    out = bytes(blob)
    if _TLZ_BAD(i):
        return out[: max(8, len(out) * 2 // 5)]
    return out


# ---------------------------------------------------------------- decoder

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4}

# tags the pixel decode actually consults — an unsupported value type
# on any OTHER tag is skipped, not fatal
_DECODE_TAGS = frozenset({256, 257, 258, 259, 273, 277, 278, 279, 284})


def _read_values(b: bytes, e: str, typ: int, count: int, raw: bytes):
    """IFD entry values — inline when they fit 4 bytes, else at the
    offset stored in the value field (the TIFF 6.0 rule)."""
    if typ not in _TYPE_SIZE:
        raise ValueError("unsupported IFD type")
    size = _TYPE_SIZE[typ] * count
    if size <= 4:
        src = raw
    else:
        (off,) = struct.unpack(e + "I", raw)
        if off + size > len(b):
            raise ValueError("IFD value out of range")
        src = b[off : off + size]
    fmt = {1: "B", 3: "H", 4: "I"}.get(typ)
    if fmt is None:
        raise ValueError("unsupported IFD type")
    return list(struct.unpack(e + fmt * count, src[:size]))


def _decode_tiff(b: bytes):
    """Returns (w, h, samples_per_pixel, flat pixel bytes)."""
    if len(b) < 8:
        raise ValueError("too short")
    if b[:2] == b"II":
        e = "<"
    elif b[:2] == b"MM":
        e = ">"
    else:
        raise ValueError("not a TIFF")
    magic, ifd_off = struct.unpack(e + "HI", b[2:8])
    if magic != 42:
        raise ValueError("bad magic")
    if ifd_off + 2 > len(b):
        raise ValueError("IFD out of range")
    (n_entries,) = struct.unpack(e + "H", b[ifd_off : ifd_off + 2])
    tags = {}
    pos = ifd_off + 2
    if pos + 12 * n_entries > len(b):
        raise ValueError("IFD truncated")
    for _ in range(n_entries):
        tag, typ, count = struct.unpack(e + "HHI", b[pos : pos + 8])
        try:
            tags[tag] = _read_values(b, e, typ, count, b[pos + 8 : pos + 12])
        except ValueError:
            # metadata tags irrelevant to pixel decode (ASCII
            # Software/DateTime, RATIONAL X/YResolution, ...) must not
            # abort the whole image; only a decode-relevant tag with an
            # unreadable type/value is fatal
            if tag in _DECODE_TAGS:
                raise
        pos += 12
    for req in (256, 257, 273, 279):
        if req not in tags:
            raise ValueError("missing required tag")
    w, h = tags[256][0], tags[257][0]
    compression = tags.get(259, [1])[0]
    if compression not in (1, 5, 32773):
        raise ValueError("compressed TIFF unsupported")
    spp = tags.get(277, [1])[0]
    if spp not in (1, 3):
        raise ValueError("unsupported samples per pixel")
    if any(v != 8 for v in tags.get(258, [8])):
        raise ValueError("non-8-bit samples unsupported")
    if tags.get(284, [1])[0] != 1:
        raise ValueError("planar config unsupported")
    if w <= 0 or h <= 0 or w * h * spp > 1 << 28:
        raise ValueError("bad dimensions")
    rps = tags.get(278, [h])[0]
    if rps <= 0:
        raise ValueError("bad rows per strip")
    data = bytearray()
    for idx, (off, n) in enumerate(zip(tags[273], tags[279])):
        if off + n > len(b):
            raise ValueError("strip out of range")
        chunk = b[off : off + n]
        if compression in (5, 32773):
            nrows = min(rps, h - idx * rps)
            if nrows <= 0:
                raise ValueError("excess strips")
            if compression == 32773:
                chunk = _packbits_decode(chunk, nrows * w * spp)
            else:
                chunk = _lzw_decode(chunk, nrows * w * spp)
        data += chunk
    need = w * h * spp
    if len(data) < need:
        raise ValueError("pixel data short")
    return w, h, spp, bytes(data[:need])


def _tiff_pixels_walk(b: bytes) -> dict:
    w, h, _spp, data = _decode_tiff(b)
    return {
        "width": int(w),
        "height": int(h),
        "n_pixels": int(w) * int(h),
        "rgb_sum": int(sum(data)),
    }


def synthesize_tiff_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL multi-strip TIFF blobs, one per
    doc_id; odd ids big-endian, ids hitting _TIF_BAD truncated."""
    return synthesize_blobs(
        docs,
        _make_tiff,
        lambda i: blob_meta("corrupt" if _TIF_BAD(i) else "tiff", _TIF_W(i), _TIF_H(i)),
    )


def synthesize_tiff_packbits_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL PackBits-compressed grayscale TIFFs,
    one per doc_id; odd ids big-endian, ids hitting _TPB_BAD truncated
    mid-strip so the PackBits error surface executes."""
    return synthesize_blobs(
        docs,
        _make_tiff_packbits,
        lambda i: blob_meta("corrupt" if _TPB_BAD(i) else "tiff", _TPB_W(i), _TPB_H(i)),
    )


def synthesize_tiff_lzw_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL LZW-compressed grayscale TIFFs, one
    per doc_id; odd ids big-endian, ids hitting _TLZ_BAD truncated
    mid-strip so the LZW error surface executes. Strip sizes are
    chosen so the dictionary crosses 511 entries and the 9->10-bit
    early-change width bump runs on every healthy image."""
    return synthesize_blobs(
        docs,
        _make_tiff_lzw,
        lambda i: blob_meta("corrupt" if _TLZ_BAD(i) else "tiff", _TLZ_W(i), _TLZ_H(i)),
    )


def tiff_pixel_stats(df: DataFrame) -> DataFrame:
    """REAL baseline-TIFF decode over MEDIA_SCHEMA input: byte-order
    header, IFD walk with the 4-byte inline-value rule, multi-strip
    assembly, per-image RGB sums. Corrupt/unsupported blobs degrade to
    format='unknown' zeroed rows."""
    return blob_stats(df, _tiff_pixels_walk, TIFF_SCHEMA, "tiff")
