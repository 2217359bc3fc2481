"""REAL MPEG-1 Layer III (MP3) frame-header walk over binary columns.

Sibling of the PNG/JPEG/GIF/TIFF/BMP/WAV/MP4 decoders (beyond-reference
surface, BASELINE.json north star): a genuine ISO/IEC 11172-3 frame
walk — per-frame 4-byte header parse (sync, version, layer, bitrate
index, sample-rate index, padding bit), exact frame-length arithmetic
(``144 * bitrate / sample_rate + padding``), frame counting, and the
stream duration from the fixed 1152-samples-per-frame grant. This is
the metadata pass an audio ingestion pipeline runs on every file
(duration, average bitrate, CBR/VBR detection) before any codec work.

Corrupt-stripe contract: any sync loss, reserved index, truncated
frame, or trailing garbage degrades the whole row to
``format='unknown'`` — corruption is discovered by PARSING, never by
fixture metadata.

Scale design: identical to the other decoders — Arrow-batched
mapInPandas, blobs cross into Python once per batch, a handful of
integer stats per file is all that shuffles.
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

MP3_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_frames", LongType()),
        StructField("total_bytes", LongType()),
        StructField("duration_ms", LongType()),
        StructField("kbps_sum", LongType()),
        StructField("pad_frames", LongType()),
    ]
)

# MPEG-1 Layer III bitrate table, kbit/s, index 1..14 (0=free, 15=bad)
_BITRATES = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
# MPEG-1 sample-rate table, index 0..2 (3=reserved)
_SAMPLE_RATES = (44100, 48000, 32000)
_SAMPLES_PER_FRAME = 1152


def _walk_frames(data: bytes) -> dict | None:
    """Frame-by-frame header walk; returns stats or None on any
    grammar violation."""
    pos, end = 0, len(data)
    n = kbps_sum = pads = 0
    sr_seen = None
    while pos < end:
        if pos + 4 > end:
            return None
        b0, b1, b2, _b3 = data[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            return None  # sync lost
        if (b1 >> 3) & 0x3 != 0x3:  # version: MPEG-1 only
            return None
        if (b1 >> 1) & 0x3 != 0x1:  # layer: III only
            return None
        bidx = (b2 >> 4) & 0xF
        sridx = (b2 >> 2) & 0x3
        pad = (b2 >> 1) & 0x1
        if bidx in (0, 15) or sridx == 3:
            return None  # free-format / reserved
        sr = _SAMPLE_RATES[sridx]
        if sr_seen is None:
            sr_seen = sr
        elif sr != sr_seen:
            return None  # sample rate must be constant per stream
        kbps = _BITRATES[bidx]
        flen = 144000 * kbps // sr + pad
        if pos + flen > end:
            return None  # truncated frame
        n += 1
        kbps_sum += kbps
        pads += pad
        pos += flen
    if pos != end or n == 0:
        return None
    return {
        "n_frames": n,
        "total_bytes": end,
        "duration_ms": n * _SAMPLES_PER_FRAME * 1000 // sr_seen,
        "kbps_sum": kbps_sum,
        "pad_frames": pads,
    }


def mp3_frame_stats(df: DataFrame) -> DataFrame:
    """MPEG-1 Layer III frame walk + duration/bitrate stats over
    MEDIA_SCHEMA blobs (see module doc)."""
    return blob_stats(df, _walk_frames, MP3_SCHEMA, "mp3")


def synthesize_mp3_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL minimal-but-compliant CBR-free MP3
    streams: ``6 + i % 10`` frames at 44.1 kHz, per-frame bitrate index
    cycling ``1 + (i*5 + j) % 14`` with padding bit ``(i + j) % 2`` and
    LCG filler bytes — every decoded field a formula of the id so a
    DuckDB oracle recomputes the output blind. Every 9th id is
    truncated mid-frame — the corrupt stripe that must degrade to
    'unknown'."""

    def make(i: int) -> bytes:
        n_frames = 6 + i % 10
        parts = []
        for j in range(n_frames):
            bidx = 1 + (i * 5 + j) % 14
            pad = (i + j) % 2
            kbps = _BITRATES[bidx]
            flen = 144000 * kbps // 44100 + pad
            # header: sync(11) ver=11 layer=01 noCRC=1 | bidx sr=00
            # pad priv=0 | mode=11 (single channel)
            hdr = struct.pack(
                ">BBBB", 0xFF, 0xFB, (bidx << 4) | (pad << 1), 0xC0
            )
            body = bytes(
                (i * 31 + 7 * j + 3 * k) % 256 for k in range(flen - 4)
            )
            parts.append(hdr + body)
        blob = b"".join(parts)
        return blob[: len(blob) - 40] if i % 9 == 0 else blob

    return synthesize_blobs(docs, make, blob_meta("mp3", sample_rate=44100))


# --------------------------------------------------------------------------
# ID3v2.3 tag block (the MP3 sibling of JPEG's EXIF APP1).
# --------------------------------------------------------------------------

ID3_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("id3_version", LongType()),
        StructField("n_tags", LongType()),
        StructField("title", StringType()),
        StructField("artist", StringType()),
        StructField("track", LongType()),
        StructField("tag_bytes", LongType()),
        StructField("n_frames", LongType()),
    ]
)


def _syncsafe(n: int) -> bytes:
    """ID3v2 syncsafe int: 4 bytes, 7 bits each (high bit clear)."""
    return bytes(
        ((n >> s) & 0x7F) for s in (21, 14, 7, 0)
    )


def _read_syncsafe(b: bytes, off: int) -> int | None:
    if off + 4 > len(b):
        return None
    n = 0
    for k in range(4):
        byte = b[off + k]
        if byte & 0x80:
            return None  # high bit set = not syncsafe
        n = (n << 7) | byte
    return n


def _id3_text(body: bytes) -> str | None:
    """Text-frame payload -> str per the ID3v2.3 encoding byte:
    0x00 ISO-8859-1, 0x01 UTF-16 WITH BOM (decoded by the charset
    chain's strict RFC 2781 walk — a missing BOM or a broken
    surrogate pair refuses). 0x02/0x03 are ID3v2.4-only and refuse
    inside a v2.3 tag; anything else is reserved."""
    if not body:
        return None
    enc = body[0]
    if enc == 0:
        return body[1:].decode("latin-1")
    if enc == 1:
        from gmall_flink_210726_spark.operators.charset import (
            utf16_decode_strict,
        )

        got = utf16_decode_strict(body[1:])
        if got is None:
            return None
        cps, _label = got
        return "".join(map(chr, cps))
    return None


def _parse_id3_mp3(data: bytes) -> dict | None:
    """ID3v2.3 header + text-frame walk, then the MP3 frame walk over
    the remaining audio; None on any grammar violation."""
    if len(data) < 10 or data[0:3] != b"ID3":
        return None
    ver_major, ver_rev, flags = data[3], data[4], data[5]
    if ver_major != 3 or ver_rev != 0 or flags != 0:
        return None
    size = _read_syncsafe(data, 6)
    if size is None or 10 + size > len(data):
        return None
    tag_end = 10 + size
    pos = 10
    n_tags = 0
    title = artist = ""
    track = 0
    while pos < tag_end:
        if data[pos] == 0:  # zero padding fills the rest
            if any(data[pos:tag_end]):
                return None
            break
        if pos + 10 > tag_end:
            return None
        fid = data[pos : pos + 4]
        (fsize,) = struct.unpack_from(">I", data, pos + 4)
        fflags = struct.unpack_from(">H", data, pos + 8)[0]
        if fflags != 0 or fsize < 1 or pos + 10 + fsize > tag_end:
            return None
        body = data[pos + 10 : pos + 10 + fsize]
        text = _id3_text(body)
        if text is None:
            return None
        if fid == b"TIT2":
            title = text
        elif fid == b"TPE1":
            artist = text
        elif fid == b"TRCK":
            if not text.isdigit():
                return None
            track = int(text)
        n_tags += 1
        pos += 10 + fsize
    audio = _walk_frames(data[tag_end:])
    if audio is None or n_tags == 0:
        return None
    return {
        "id3_version": 3,
        "n_tags": n_tags,
        "title": title,
        "artist": artist,
        "track": track,
        "tag_bytes": tag_end,
        "n_frames": audio["n_frames"],
    }


def mp3_id3_tags(df: DataFrame) -> DataFrame:
    """ID3v2.3 tag extraction + audio frame count over MEDIA_SCHEMA
    blobs (see module doc)."""
    return blob_stats(df, _parse_id3_mp3, ID3_SCHEMA, "mp3")


def _make_id3_mp3(i: int) -> bytes:
    """Deterministic ID3v2.3-tagged MP3: TIT2/TPE1/TRCK text frames,
    syncsafe tag size, 2 + i % 6 zero-padding bytes, then 3 + i % 5
    audio frames at a fixed 128 kbps/44.1 kHz. The TIT2 title ends
    in a non-ASCII 'é' and rotates its encoding byte — ISO-8859-1 on
    even ids, UTF-16-with-BOM on odd — so the decode path, not just
    the framing, is oracle-pinned."""

    def tframe(fid: bytes, text: str, enc: int = 0) -> bytes:
        if enc == 1:
            body = b"\x01\xff\xfe" + text.encode("utf-16-le")
        else:
            body = b"\x00" + text.encode("latin-1")
        return fid + struct.pack(">IH", len(body), 0) + body

    frames = (
        tframe(b"TIT2", f"track {i % 100}é", enc=i % 2)
        + tframe(b"TPE1", f"artist {i % 10}")
        + tframe(b"TRCK", str(1 + i % 12))
    )
    pad = b"\x00" * (2 + i % 6)
    tag_size = len(frames) + len(pad)
    id3 = b"ID3" + bytes((3, 0, 0)) + _syncsafe(tag_size) + frames + pad
    audio_parts = []
    flen = 144000 * 128 // 44100  # bitrate idx 9, no padding bit
    for j in range(3 + i % 5):
        hdr = struct.pack(">BBBB", 0xFF, 0xFB, 9 << 4, 0xC0)
        audio_parts.append(
            hdr + bytes((i * 13 + 5 * j + k) % 256 for k in range(flen - 4))
        )
    blob = id3 + b"".join(audio_parts)
    return blob[: len(blob) - 11] if i % 8 == 0 else blob


def synthesize_id3_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of ID3v2.3-tagged MP3s; every 8th id is
    truncated mid-audio (corrupt stripe)."""
    return synthesize_blobs(docs, _make_id3_mp3, blob_meta("mp3", sample_rate=44100))
