"""REAL BMP (BI_RLE8) decode over binary columns.

Beyond-reference surface (BASELINE.json north star), sibling of the
PNG/JPEG/GIF/TIFF decoders: a genuine Windows-BMP run-length decoder —
BITMAPFILEHEADER + BITMAPINFOHEADER walk, 256-entry BGRX palette read,
and the full RLE8 escape grammar (Windows GDI / BMP spec):

- ``n v`` (n > 0)        — encoded mode: n copies of palette index v
- ``0 0``                — end of line (advance to next stored row)
- ``0 1``                — end of bitmap
- ``0 2 dx dy``          — delta: skip dx right / dy stored rows up;
  skipped pixels are UNWRITTEN (this decoder leaves them at palette
  index 0, the GDI zero-fill convention)
- ``0 n`` (n >= 3)       — absolute mode: n literal indices follow,
  padded to a 16-bit boundary

Rows are stored BOTTOM-UP (positive biHeight); the row-weighted
checksum uses IMAGE coordinates, so a decoder that forgets the
vertical flip mismatches the oracle on every non-palindromic image.

Scale design: identical to every other decoder in the package —
Arrow-batched mapInPandas, blobs cross into Python once per batch,
a handful of integer stats per file is all that shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)

BMP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("idx_sum", LongType()),
        StructField("weighted_sum", LongType()),
    ]
)


def _decode_rle8(data: bytes, w: int, h: int) -> list[list[int]] | None:
    """Expand a BI_RLE8 stream into h stored rows of w palette indices
    (zero-initialized; delta-skipped pixels stay 0). Returns None on
    grammar violations (overruns, truncation)."""
    rows = [[0] * w for _ in range(h)]
    x = y = pos = 0
    n = len(data)
    while True:
        if pos + 2 > n:
            return None  # ran off the stream without EOB
        c0, c1 = data[pos], data[pos + 1]
        pos += 2
        if c0 > 0:  # encoded mode
            if y >= h or x + c0 > w:
                return None
            for _ in range(c0):
                rows[y][x] = c1
                x += 1
        elif c1 == 0:  # end of line
            x, y = 0, y + 1
        elif c1 == 1:  # end of bitmap
            return rows
        elif c1 == 2:  # delta
            if pos + 2 > n:
                return None
            dx, dy = data[pos], data[pos + 1]
            pos += 2
            x, y = x + dx, y + dy
            if x > w or y > h:
                return None
        else:  # absolute mode: c1 literal indices, word-aligned
            if y >= h or x + c1 > w or pos + c1 > n:
                return None
            for j in range(c1):
                rows[y][x] = data[pos + j]
                x += 1
            pos += c1 + (c1 & 1)


def _bmp_walk(b: bytes) -> dict | None:
    import struct

    if not (b[:2] == b"BM" and len(b) >= 54):
        return None
    (_, _, _, data_off) = struct.unpack_from("<IHHI", b, 2)
    (
        hdr_sz,
        w,
        h,
        _planes,
        bpp,
        compression,
        _img_sz,
    ) = struct.unpack_from("<iiiHHII", b, 14)
    if not (
        hdr_sz == 40
        and bpp == 8
        and compression == 1  # BI_RLE8
        and w > 0
        and h > 0  # positive height: bottom-up
        and data_off <= len(b)
        and 14 + 40 + 1024 <= data_off
    ):
        return None
    pal_off = 14 + hdr_sz
    # BGRX quads
    pal = [
        (b[pal_off + 4 * p], b[pal_off + 4 * p + 1], b[pal_off + 4 * p + 2])
        for p in range(256)
    ]
    stored = _decode_rle8(b[data_off:], w, h)
    if stored is None:
        return None
    # stored row 0 is the BOTTOM image row
    idx_sum = 0
    wsum = 0
    for yf, r in enumerate(stored):
        yi = h - 1 - yf
        rw = 0
        for v in r:
            idx_sum += v
            bb, gg, rr = pal[v]
            rw += rr + 2 * gg + 3 * bb
        wsum += (yi + 1) * rw
    return {
        "width": int(w),
        "height": int(h),
        "idx_sum": int(idx_sum),
        "weighted_sum": int(wsum),
    }


def bmp_rle_stats(df: DataFrame) -> DataFrame:
    """RLE8 BMP decode + palette-weighted pixel stats over MEDIA_SCHEMA
    blobs (see module doc)."""
    return blob_stats(df, _bmp_walk, BMP_SCHEMA, "bmp")


def synthesize_bmp_rle_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL BI_RLE8 BMP blobs exercising the full
    escape grammar, cycling by id stripe (i % 3):

    - stripe 0: two encoded runs per row
    - stripe 1: encoded run + ABSOLUTE segment (word-padded) + run
    - stripe 2: encoded run + DELTA (dx=2, skipped pixels stay index 0)
      + run

    Geometry, run lengths, palette, and pixel values are all LCG
    formulas of (id, row) so a DuckDB oracle recomputes both checksums
    blind. Every 11th id is truncated mid-palette — the corrupt stripe
    that must degrade to 'unknown'."""

    import struct

    def make(i: int) -> bytes:
        w = 16 + i % 9
        h = 4 + i % 5
        pal = bytearray()
        for p in range(256):
            pal += bytes(
                (
                    (7 * p + i) % 256,  # B
                    (5 * p + 2 * i) % 256,  # G
                    (3 * p + 3 * i) % 256,  # R
                    0,
                )
            )
        rle = bytearray()
        for yf in range(h):
            a = 3 + (i + yf) % 5
            v1 = (i * 7 + yf) % 256
            v2 = (i * 11 + 3 * yf) % 256
            stripe = i % 3
            rle += bytes((a, v1))
            if stripe == 0:
                rle += bytes((w - a, v2))
            elif stripe == 1:
                ln = 4 + yf % 3  # 4..6, >= 3 so it is absolute mode
                rle += bytes((0, ln))
                rle += bytes((i * 5 + yf + 3 * j) % 256 for j in range(ln))
                if ln & 1:
                    rle += b"\x00"
                rle += bytes((w - a - ln, v2))
            else:
                rle += bytes((0, 2, 2, 0))  # delta: skip 2 right
                rle += bytes((w - a - 2, v2))
            rle += bytes((0, 0))  # end of line
        rle += bytes((0, 1))  # end of bitmap
        data_off = 14 + 40 + 1024
        blob = (
            struct.pack("<2sIHHI", b"BM", data_off + len(rle), 0, 0, data_off)
            + struct.pack(
                "<iiiHHIIiiII", 40, w, h, 1, 8, 1, len(rle), 2835, 2835, 256, 0
            )
            + bytes(pal)
            + bytes(rle)
        )
        return blob[:40] if i % 11 == 0 else blob

    return synthesize_blobs(docs, make, blob_meta("bmp"))
