"""REAL EXIF (APP1) metadata extraction from JPEG blobs.

Sibling of the decoder family and a composition of two specs the repo
already implements separately: the JPEG marker walk (ITU-T T.81, as in
``operators/jpeg.py``) finds the APP1 segment, and INSIDE it lives a
complete TIFF structure (byte-order header + IFD entry table, the
exact grammar ``operators/tiff.py`` walks) per the EXIF 2.3 standard.
Orientation is the tag every thumbnailer must read before resizing;
Make/Software/XResolution exercise inline SHORT values, offset ASCII
values, and offset RATIONAL values — the three IFD storage classes.

Both byte orders are exercised: even ids write little-endian ('II')
TIFF payloads, odd ids big-endian ('MM') — a real-world EXIF parser
must handle both, and a one-endian bug flips exactly half the corpus.

Corrupt-stripe contract: truncation, a missing Exif marker, malformed
IFD offsets, or a bad SOI/EOI frame degrade the row to
``format='unknown'``; corruption is discovered by PARSING.

Scale design: Arrow-batched mapInPandas, a few integer/string fields
per blob shuffle, bodies never do.
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

EXIF_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("byte_order", StringType()),
        StructField("orientation", LongType()),
        StructField("make", StringType()),
        StructField("xres_num", LongType()),
        StructField("n_ifd_entries", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
    ]
)

_TAG_MAKE = 0x010F
_TAG_ORIENTATION = 0x0112
_TAG_XRES = 0x011A
_TAG_SOFTWARE = 0x0131


def _parse_exif_tiff(t: bytes) -> dict | None:
    """Parse the TIFF structure inside an APP1 Exif payload; returns
    the extracted tags or None on any grammar violation."""
    if len(t) < 8:
        return None
    if t[0:2] == b"II":
        e = "<"
    elif t[0:2] == b"MM":
        e = ">"
    else:
        return None
    magic, ifd_off = struct.unpack_from(e + "HI", t, 2)
    if magic != 42 or ifd_off + 2 > len(t):
        return None
    (n_entries,) = struct.unpack_from(e + "H", t, ifd_off)
    if ifd_off + 2 + 12 * n_entries + 4 > len(t):
        return None
    out = {
        "byte_order": t[0:2].decode("ascii"),
        "orientation": 0,
        "make": "",
        "xres_num": 0,
        "n_ifd_entries": n_entries,
    }
    prev_tag = -1
    for k in range(n_entries):
        base = ifd_off + 2 + 12 * k
        tag, typ, cnt = struct.unpack_from(e + "HHI", t, base)
        if tag <= prev_tag:  # IFD entries must be tag-sorted (TIFF 6.0)
            return None
        prev_tag = tag
        val = t[base + 8 : base + 12]
        if tag == _TAG_ORIENTATION:
            if typ != 3 or cnt != 1:
                return None
            out["orientation"] = struct.unpack_from(e + "H", val)[0]
        elif tag == _TAG_MAKE:
            if typ != 2:
                return None
            if cnt <= 4:
                raw = val[:cnt]
            else:
                (off,) = struct.unpack_from(e + "I", val)
                if off + cnt > len(t):
                    return None
                raw = t[off : off + cnt]
            if not raw.endswith(b"\x00"):
                return None
            out["make"] = raw[:-1].decode("latin-1")
        elif tag == _TAG_XRES:
            if typ != 5 or cnt != 1:
                return None
            (off,) = struct.unpack_from(e + "I", val)
            if off + 8 > len(t):
                return None
            num, den = struct.unpack_from(e + "II", t, off)
            if den == 0:
                return None
            out["xres_num"] = num
    return out


def _parse_jpeg_exif(b: bytes) -> dict | None:
    """JPEG marker walk: SOI, then length-framed segments; extract the
    APP1 Exif TIFF and the SOF0 dimensions; require a final EOI."""
    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    pos = 2
    exif = None
    width = height = 0
    while True:
        if pos + 2 > len(b):
            return None
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            if pos + 2 != len(b):
                return None
            break
        if pos + 4 > len(b):
            return None
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        if seglen < 2 or pos + 2 + seglen > len(b):
            return None
        body = b[pos + 4 : pos + 2 + seglen]
        if marker == 0xE1 and body[:6] == b"Exif\x00\x00":
            exif = _parse_exif_tiff(body[6:])
            if exif is None:
                return None
        elif marker == 0xC0:  # SOF0
            if len(body) < 5:
                return None
            height, width = struct.unpack_from(">HH", body, 1)
        pos += 2 + seglen
    if exif is None or width == 0 or height == 0:
        return None
    exif.update(width=width, height=height)
    return exif


def jpeg_exif_stats(df: DataFrame) -> DataFrame:
    """EXIF APP1 extraction over MEDIA_SCHEMA blobs (see module doc)."""
    return blob_stats(df, _parse_jpeg_exif, EXIF_SCHEMA, "jpeg")


def _make_exif_jpeg(i: int) -> bytes:
    """Deterministic minimal JPEG with a real EXIF APP1: every decoded
    field is a formula of the id (see the query oracle)."""
    e = "<" if i % 2 == 0 else ">"
    order = b"II" if i % 2 == 0 else b"MM"
    make = f"cam{i % 5}\x00".encode("ascii")  # 5 bytes -> offset class
    software = f"eng{i % 4}\x00\x00".encode("ascii")  # 6 bytes
    has_sw = i % 3 == 0
    n_entries = 4 if has_sw else 3
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n_entries + 4
    entries = []
    # tag-sorted, as TIFF 6.0 requires
    entries.append(
        struct.pack(e + "HHI", _TAG_MAKE, 2, len(make))
        + struct.pack(e + "I", data_off)
    )
    entries.append(
        struct.pack(e + "HHI", _TAG_ORIENTATION, 3, 1)
        + struct.pack(e + "H", 1 + i % 8)
        + b"\x00\x00"
    )
    xres_off = data_off + len(make)
    entries.append(
        struct.pack(e + "HHI", _TAG_XRES, 5, 1)
        + struct.pack(e + "I", xres_off)
    )
    data = make + struct.pack(e + "II", 72 + i % 4, 1)
    if has_sw:
        sw_off = xres_off + 8
        entries.append(
            struct.pack(e + "HHI", _TAG_SOFTWARE, 2, len(software))
            + struct.pack(e + "I", sw_off)
        )
        data += software
    tiff = (
        order
        + struct.pack(e + "HI", 42, ifd_off)
        + struct.pack(e + "H", n_entries)
        + b"".join(entries)
        + struct.pack(e + "I", 0)  # next-IFD pointer
        + data
    )
    app1_body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", 2 + len(app1_body)) + app1_body
    w, h = 16 + i % 9, 8 + i % 7
    sof0_body = struct.pack(">BHHB", 8, h, w, 1) + bytes((1, 0x11, 0))
    sof0 = b"\xff\xc0" + struct.pack(">H", 2 + len(sof0_body)) + sof0_body
    blob = b"\xff\xd8" + app1 + sof0 + b"\xff\xd9"
    return blob[: len(blob) - 17] if i % 7 == 0 else blob


def synthesize_exif_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of minimal JPEGs carrying REAL EXIF APP1
    payloads; every 7th id is truncated mid-structure (corrupt
    stripe). Even ids are little-endian TIFF, odd ids big-endian."""
    return synthesize_blobs(
        docs,
        _make_exif_jpeg,
        lambda i: blob_meta("jpeg", 16 + i % 9, 8 + i % 7),
    )
