"""GIF89a decode with stdlib alone — no codec libraries.

Beyond-reference surface (BASELINE.json north star): the fifth real
codec next to BMP/WAV (operators/multimodal.py), PNG (stdlib zlib
path) and baseline JPEG (operators/jpeg.py). Everything here is from
the public GIF89a specification: header + logical screen descriptor,
global color table, extension-block skipping (0x21 label +
sub-blocks), image descriptor, and a FULL variable-width LZW decoder —
LSB-first bit packing across data sub-blocks, code-width growth at
2^n, CLEAR table resets, and the KwKwK (code == next_code) case.

Supported subset (honestly bounded): single-image GIF87a/89a with a
global color table, sequential or interlaced (the GIF89a Appendix E
four-pass row order), no local color table. Anything else raises
ValueError and the Spark operator degrades the row to
format='unknown' — never throw away the partition for one file.

Fixture strategy (the _make_jpeg pattern, operators/jpeg.py:104): the
synthesizer LZW-compresses REAL pixel-index streams with a REAL
dictionary-building encoder (so the decoder's dictionary path and
KwKwK case actually run), while the index and palette values follow
LCG formulas in (id, position) that a DuckDB oracle recomputes blind —
the oracle never sees a byte of the LZW stream.
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
from gmall_flink_210726_spark.operators.wire import LsbReader, LsbWriter

# ---------------------------------------------------------------- fixture
# formulas shared with the DuckDB oracle in queries/llm7.py — the
# decoder never sees them, it parses the bytes.
_GIF_W = lambda i: 3 + i % 13  # noqa: E731
_GIF_H = lambda i: 2 + i % 9  # noqa: E731
_GIF_BAD = lambda i: i % 11 == 0  # noqa: E731  truncated corrupt blob
_GIF_NCOLORS = 4  # GCT size bits 1 -> 4 entries, LZW min code size 2
_GIF_IDX = lambda i, p: (i * 29 + 13 * p) % _GIF_NCOLORS  # noqa: E731
_GIF_PAL = lambda i, c, ch: (i * 17 + 31 * c + 7 * ch) % 256  # noqa: E731

# interlaced fixture (h >= 5 so ALL four Appendix E passes execute)
_GIN_W = lambda i: 3 + i % 11  # noqa: E731
_GIN_H = lambda i: 5 + i % 8  # noqa: E731
_GIN_BAD = lambda i: i % 10 == 0  # noqa: E731
_GIN_IDX = lambda i, p: (i * 41 + 19 * p) % _GIF_NCOLORS  # noqa: E731
_GIN_PAL = lambda i, c, ch: (i * 13 + 29 * c + 5 * ch) % 256  # noqa: E731

GIF_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_pixels", LongType()),
        StructField("idx_sum", LongType()),
        StructField("rgb_sum", LongType()),
    ]
)


def _lzw_encode(indices, min_code: int) -> bytes:
    """Real dictionary-building GIF-LZW encoder (greedy longest-match),
    so the decoder's table growth and width transitions are exercised."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    bw = LsbWriter()
    width = min_code + 1
    bw.write(clear, width)
    table = {(c,): c for c in range(1 << min_code)}
    next_code = eoi + 1
    prefix: tuple = ()
    for sym in indices:
        cand = prefix + (int(sym),)
        if cand in table:
            prefix = cand
            continue
        bw.write(table[prefix], width)
        if next_code < 4096:
            table[cand] = next_code
            # GIF encoders bump width when next_code EXCEEDS the
            # current range (decoder mirrors this off-by-one exactly)
            if next_code == (1 << width):
                width += 1
            next_code += 1
        else:
            bw.write(clear, width)
            table = {(c,): c for c in range(1 << min_code)}
            next_code = eoi + 1
            width = min_code + 1
        prefix = (int(sym),)
    if prefix:
        bw.write(table[prefix], width)
    bw.write(eoi, width)
    return bw.flush()


def _make_gif(i: int) -> bytes:
    w, h = _GIF_W(i), _GIF_H(i)
    pal = bytes(
        _GIF_PAL(i, c, ch) for c in range(_GIF_NCOLORS) for ch in range(3)
    )
    indices = [_GIF_IDX(i, p) for p in range(w * h)]
    min_code = 2
    lzw = _lzw_encode(indices, min_code)
    blob = bytearray()
    blob += b"GIF89a"
    # LSD: GCT flag=1, color res 1 (bits 6-4 = 0), sort 0, GCT size 1 (4 entries)
    blob += struct.pack("<HHBBB", w, h, 0x80 | 0x01, 0, 0)
    blob += pal
    blob += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)  # image descriptor
    blob += bytes([min_code])
    for off in range(0, len(lzw), 255):
        chunk = lzw[off : off + 255]
        blob += bytes([len(chunk)]) + chunk
    blob += b"\x00\x3b"
    out = bytes(blob)
    if _GIF_BAD(i):
        return out[: max(8, len(out) // 2)]  # mid-stream truncation
    return out


def _interlace_rows(h: int) -> list:
    """Display-row order of stored rows under GIF89a Appendix E
    interlacing: pass 1 every 8th row from 0, pass 2 every 8th from 4,
    pass 3 every 4th from 2, pass 4 every 2nd from 1."""
    return (
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2))
    )


def _make_gif_interlaced(i: int) -> bytes:
    """REAL interlaced GIF89a: the image descriptor sets the interlace
    flag and the LZW stream carries rows in the four-pass order, so a
    decoder that ignores the flag produces row-scrambled pixels and
    hash-mismatches the oracle."""
    w, h = _GIN_W(i), _GIN_H(i)
    pal = bytes(
        _GIN_PAL(i, c, ch) for c in range(_GIF_NCOLORS) for ch in range(3)
    )
    display = [_GIN_IDX(i, p) for p in range(w * h)]
    stored: list = []
    for disp in _interlace_rows(h):
        stored.extend(display[disp * w : (disp + 1) * w])
    min_code = 2
    lzw = _lzw_encode(stored, min_code)
    blob = bytearray()
    blob += b"GIF89a"
    blob += struct.pack("<HHBBB", w, h, 0x80 | 0x01, 0, 0)
    blob += pal
    # image descriptor with interlace flag (0x40)
    blob += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40)
    blob += bytes([min_code])
    for off in range(0, len(lzw), 255):
        chunk = lzw[off : off + 255]
        blob += bytes([len(chunk)]) + chunk
    blob += b"\x00\x3b"
    out = bytes(blob)
    if _GIN_BAD(i):
        return out[: max(8, len(out) // 2)]
    return out


# ---------------------------------------------------------------- decoder


# animated-GIF fixture (third LCG set)
_GAN_W = lambda i: 3 + i % 9  # noqa: E731
_GAN_H = lambda i: 2 + i % 7  # noqa: E731
_GAN_NF = lambda i: 2 + i % 3  # noqa: E731  2..4 frames
_GAN_BAD = lambda i: i % 13 == 0  # noqa: E731
_GAN_IDX = lambda i, f, p: (i * 31 + 23 * f + 11 * p) % _GIF_NCOLORS  # noqa: E731
_GAN_PAL = lambda i, c, ch: (i * 7 + 19 * c + 3 * ch) % 256  # noqa: E731


def _make_gif_animated(i: int) -> bytes:
    """Real GIF89a ANIMATION: NETSCAPE2.0 looping application
    extension, then per frame a Graphic Control Extension (delay,
    disposal=do-not-dispose) followed by a full-canvas image with its
    own LZW stream. Pixel indices vary per (frame, position) so frame
    order and per-frame LZW resets are both observable. Ids hitting
    _GAN_BAD truncate mid-animation (after frame 0's descriptor)."""
    w, h, nf = _GAN_W(i), _GAN_H(i), _GAN_NF(i)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 0x01, 0, 0)  # GCT, 4 colors
    for c in range(_GIF_NCOLORS):
        out += bytes(_GAN_PAL(i, c, ch) for ch in range(3))
    # NETSCAPE looping extension (app extension, walked as sub-blocks)
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for f in range(nf):
        out += b"\x21\xf9\x04\x04\x0a\x00\x00\x00"  # GCE: delay 10cs
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        if f == 0 and _GAN_BAD(i):
            return bytes(out)
        indices = [_GAN_IDX(i, f, p) for p in range(w * h)]
        out += bytes([2])
        lzw = _lzw_encode(indices, 2)
        for off in range(0, len(lzw), 255):
            chunk = lzw[off : off + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def _lzw_decode(data: bytes, min_code: int, n_expected: int) -> list:
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    width = min_code + 1
    table = [[c] for c in range(1 << min_code)] + [None, None]
    out: list = []
    prev = None
    read = LsbReader(data).read
    while True:
        code = read(width)
        if code == clear:
            table = [[c] for c in range(1 << min_code)] + [None, None]
            width = min_code + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:
            # first code after a CLEAR must be a literal root code — a
            # corrupted stream can present any 12-bit value here
            if code >= (1 << min_code):
                raise ValueError("LZW first code not a root")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + [entry[0]])
        elif code == len(table):
            entry = prev + [prev[0]]  # the KwKwK case
            table.append(entry)
        else:
            raise ValueError("LZW code out of range")
        out.extend(entry)
        prev = list(entry)
        if len(table) == (1 << width) and width < 12:
            width += 1
        if len(out) >= n_expected:
            break
    if len(out) < n_expected:
        raise ValueError("LZW output short")
    return out[:n_expected]


def _decode_gif_frames(b: bytes):
    """General GIF block walk: returns (w, h, palette bytes, frames)
    where frames is a list of (iw, ih, index list) in stream order —
    one entry per image descriptor, so GIF89a animations decode every
    frame (each with its own LZW stream and optional interlacing).
    Graphic Control / application / comment extensions are walked as
    sub-block chains. ValueError on anything outside the supported
    subset or on truncation."""
    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h, packed, _bg, _ar = struct.unpack("<HHBBB", b[6:13])
    pos = 13
    if not packed & 0x80:
        raise ValueError("no global color table")
    n_colors = 2 << (packed & 0x07)
    pal = b[pos : pos + 3 * n_colors]
    if len(pal) < 3 * n_colors:
        raise ValueError("palette truncated")
    pos += 3 * n_colors
    frames = []
    while True:
        if pos >= len(b):
            raise ValueError("unexpected end of stream")
        marker = b[pos]
        pos += 1
        if marker == 0x21:  # extension: label + sub-blocks
            pos += 1
            while True:
                if pos >= len(b):
                    raise ValueError("extension truncated")
                n = b[pos]
                pos += 1 + n
                if n == 0:
                    break
        elif marker == 0x2C:  # image descriptor
            if pos + 9 > len(b):
                raise ValueError("image descriptor truncated")
            _l, _t, iw, ih, ipacked = struct.unpack(
                "<HHHHB", b[pos : pos + 9]
            )
            pos += 9
            if ipacked & 0x80:
                raise ValueError("local color table unsupported")
            interlaced = bool(ipacked & 0x40)
            if pos >= len(b):
                raise ValueError("missing LZW min code")
            min_code = b[pos]
            pos += 1
            if not 2 <= min_code <= 8:
                raise ValueError("bad LZW min code size")
            data = bytearray()
            while True:
                if pos >= len(b):
                    raise ValueError("sub-blocks truncated")
                n = b[pos]
                pos += 1
                if n == 0:
                    break
                if pos + n > len(b):
                    raise ValueError("sub-block truncated")
                data += b[pos : pos + n]
                pos += n
            idx = _lzw_decode(bytes(data), min_code, iw * ih)
            if interlaced:
                # GIF89a Appendix E four-pass row order: stored row k
                # belongs at display row _interlace_rows(ih)[k]
                deint = [0] * (iw * ih)
                for stored, disp in enumerate(_interlace_rows(ih)):
                    deint[disp * iw : (disp + 1) * iw] = idx[
                        stored * iw : (stored + 1) * iw
                    ]
                idx = deint
            frames.append((iw, ih, idx))
        elif marker == 0x3B:  # trailer
            if not frames:
                raise ValueError("trailer before image")
            return w, h, pal, frames
        else:
            raise ValueError("unknown block")


def _decode_gif(b: bytes):
    """Single-image contract used by the still-image stats operators:
    (w, h, palette bytes, index list) of the FIRST frame. ValueError
    on anything outside the supported subset or on truncation."""
    w, h, pal, frames = _decode_gif_frames(b)
    iw, ih, idx = frames[0]
    return iw, ih, pal, idx


def _gif_pixels_walk(b: bytes) -> dict:
    w, h, pal, idx = _decode_gif(b)
    rgb = sum(pal[3 * c] + pal[3 * c + 1] + pal[3 * c + 2] for c in idx)
    return {
        "width": int(w),
        "height": int(h),
        "n_pixels": int(w) * int(h),
        "idx_sum": int(sum(idx)),
        "rgb_sum": int(rgb),
    }


def synthesize_gif_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL GIF89a blobs, one per doc_id (dims
    deterministic in the id; ids hitting _GIF_BAD are mid-stream
    truncations). Built through ``synthesize_blobs``."""
    return synthesize_blobs(
        docs,
        _make_gif,
        lambda i: blob_meta("corrupt" if _GIF_BAD(i) else "gif", _GIF_W(i), _GIF_H(i)),
    )


GIF_ILACE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_pixels", LongType()),
        StructField("idx_sum", LongType()),
        StructField("idx_possum", LongType()),
    ]
)


def synthesize_gif_interlaced_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL interlaced GIF89a blobs (the image
    descriptor interlace flag is set and the LZW stream carries the
    Appendix E four-pass row order); _GIN_BAD ids truncated."""
    return synthesize_blobs(
        docs,
        _make_gif_interlaced,
        lambda i: blob_meta("corrupt" if _GIN_BAD(i) else "gif", _GIN_W(i), _GIN_H(i)),
    )


def gif_interlaced_pixel_stats(df: DataFrame) -> DataFrame:
    """Interlaced-GIF decode emitting an ORDER-SENSITIVE checksum:
    idx_possum = sum over display positions p of (p+1)*index[p].
    idx_sum alone cannot distinguish correctly de-interlaced pixels
    from row-scrambled ones (summation is order-invariant); the
    position-weighted sum hash-mismatches any decoder that ignores
    the interlace flag or mis-orders the four passes."""

    def walk(b: bytes) -> dict:
        w, h, _pal, idx = _decode_gif(b)
        return {
            "width": int(w),
            "height": int(h),
            "n_pixels": int(w) * int(h),
            "idx_sum": int(sum(idx)),
            "idx_possum": int(sum((p + 1) * v for p, v in enumerate(idx))),
        }

    return blob_stats(df, walk, GIF_ILACE_SCHEMA, "gif")


def gif_pixel_stats(df: DataFrame) -> DataFrame:
    """REAL GIF89a decode over MEDIA_SCHEMA input: full variable-width
    LZW (table growth, CLEAR resets, KwKwK) with stdlib alone, emitting
    per-image palette-index and RGB sums. Corrupt/unsupported blobs
    degrade to format='unknown' zeroed rows."""
    return blob_stats(df, _gif_pixels_walk, GIF_SCHEMA, "gif")


ANIM_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_frames", LongType()),
        StructField("idx_sum", LongType()),
        StructField("idx_framesum", LongType()),
    ]
)


def synthesize_gif_animated_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL multi-frame GIF89a animations."""
    return synthesize_blobs(
        docs,
        _make_gif_animated,
        lambda i: blob_meta("corrupt" if _GAN_BAD(i) else "gif", _GAN_W(i), _GAN_H(i)),
    )


def _gif_animation_walk(b: bytes) -> dict:
    _w, _h, _pal, frames = _decode_gif_frames(b)
    sums = [sum(idx) for _, _, idx in frames]
    return {
        "width": int(frames[0][0]),
        "height": int(frames[0][1]),
        "n_frames": len(frames),
        "idx_sum": int(sum(sums)),
        # frame-order-weighted: a decoder that permutes or
        # merges frames matches idx_sum but not this
        "idx_framesum": int(sum((f + 1) * s for f, s in enumerate(sums))),
    }


def gif_animation_stats(df: DataFrame) -> DataFrame:
    """Per-animation frame count + per-frame index checksums over real
    multi-frame GIF89a bytes (every frame is its own LZW stream; the
    frame-weighted checksum pins stream order); 7 scalar columns out
    per file."""
    return blob_stats(df, _gif_animation_walk, ANIM_SCHEMA, "gif")
