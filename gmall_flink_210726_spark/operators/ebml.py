r"""EBML / Matroska (webm) container walk (RFC 8794 + the Matroska
spec) — the dominant open video container in crawled corpora (webm is
what browsers record and what YouTube-adjacent archives ship).  The
codec payloads (VP9/Opus) stay opaque; the container grammar is
walked bit-exactly so a 100 TB video ingest can trust a blob, count
clusters/keyframes and compute duration WITHOUT decoding video —
the same trust-and-metadata pattern as the Ogg walk (L281) and the
fMP4 walk (L271).

Grammar walked, with the trust chain at every layer:

- EBML elements (RFC 8794 §4-7): ``[VINT id][VINT size][payload]``.
  Element IDs keep their marker bit, sizes strip it; an
  all-VINT_DATA-ones size is "unknown" (§6.2), legal here ONLY for
  the Segment (live-muxed webm streams it that way) which then runs
  to EOF.  Child sizes must TILE their parent exactly — a child
  running past its parent's end refuses.
- EBML header (0x1A45DFA3): DocType must be ``webm``.
- Segment (0x18538067) -> Info (0x1549A966): TimestampScale
  (0x2AD7B1, ns per tick) and Duration (0x4489, float ticks).  Info
  carries a leading CRC-32 element (0xBF) whose payload is the
  IEEE crc32 (little-endian) of the REST of the Info payload — the
  Matroska rule "CRC-32 must be first and covers the remainder of
  its parent"; a mismatch refuses.
- Tracks (0x1654AE6B) -> TrackEntry (0xAE): TrackNumber (0xD7),
  TrackType (0x83), CodecID (0x86), Video (0xE0) with PixelWidth
  (0xB0) / PixelHeight (0xBA).
- Clusters (0x1F43B675): Timestamp (0xE7) strictly increasing
  across clusters; SimpleBlock (0xA3) = VINT track number (must
  reference a declared track) + s16 relative timestamp + flags
  (0x80 = keyframe) + opaque frame data.
- Duration books: the Duration element must EQUAL the maximum
  absolute block timestamp (cluster ts + block rel ts) — a
  container whose declared duration disagrees with its own blocks
  is refused.

Scale: one Arrow-batched ``mapInPandas`` map stage per blob — no
shuffle (the L17 multimodal pattern).

Reference parity note: the reference (gmall-flink Java) has no video
path; this extends SURVEY §2.12's beyond-reference multimodal family.
"""

from __future__ import annotations

import struct
import zlib

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

_ID_EBML = 0x1A45DFA3
_ID_DOCTYPE = 0x4282
_ID_SEGMENT = 0x18538067
_ID_INFO = 0x1549A966
_ID_CRC32 = 0xBF
_ID_TS_SCALE = 0x2AD7B1
_ID_DURATION = 0x4489
_ID_TRACKS = 0x1654AE6B
_ID_TRACK_ENTRY = 0xAE
_ID_TRACK_NUMBER = 0xD7
_ID_TRACK_TYPE = 0x83
_ID_CODEC = 0x86
_ID_VIDEO = 0xE0
_ID_PIXEL_W = 0xB0
_ID_PIXEL_H = 0xBA
_ID_CLUSTER = 0x1F43B675
_ID_CLUSTER_TS = 0xE7
_ID_SIMPLE_BLOCK = 0xA3

_UNKNOWN = -1  # sentinel for an unknown-size element


def _read_vint(data: bytes, pos: int, keep_marker: bool):
    """-> (value, new_pos) or None.  keep_marker=True for element
    IDs (RFC 8794 §5), False for sizes (§6); a size whose VINT_DATA
    bits are all ones is UNKNOWN (§6.2)."""
    if pos >= len(data):
        return None
    b0 = data[pos]
    if b0 == 0:
        return None  # > 8-byte vint: not legal in Matroska
    n = 1
    mask = 0x80
    while not b0 & mask:
        n += 1
        mask >>= 1
    if pos + n > len(data):
        return None
    if keep_marker:
        v = int.from_bytes(data[pos : pos + n], "big")
        return v, pos + n
    v = b0 & (mask - 1)
    all_ones = v == mask - 1
    for k in range(1, n):
        byte = data[pos + k]
        v = (v << 8) | byte
        all_ones = all_ones and byte == 0xFF
    if all_ones:
        return _UNKNOWN, pos + n
    return v, pos + n


def _iter_children(data: bytes, start: int, end: int):
    """Yield (id, payload_start, payload_end); None-yield on any
    tiling violation is signalled by raising ValueError."""
    pos = start
    while pos < end:
        got = _read_vint(data, pos, True)
        if got is None:
            raise ValueError("ebml: bad element id")
        eid, pos = got
        got = _read_vint(data, pos, False)
        if got is None:
            raise ValueError("ebml: bad element size")
        size, pos = got
        if size == _UNKNOWN:
            if eid != _ID_SEGMENT:
                raise ValueError("ebml: unknown size outside Segment")
            yield eid, pos, end
            return
        if pos + size > end:
            raise ValueError("ebml: child overruns parent")
        yield eid, pos, pos + size
        pos += size
    if pos != end:
        raise ValueError("ebml: children do not tile parent")


def _uint(data: bytes, s: int, e: int) -> int:
    return int.from_bytes(data[s:e], "big")


def read_webm(data: bytes) -> dict | None:
    """Full container walk -> stream stats; None on any violation of
    the trust chain (module doc)."""
    try:
        top = list(_iter_children(data, 0, len(data)))
        if len(top) != 2:
            return None
        (h_id, h_s, h_e), (s_id, s_s, s_e) = top
        if h_id != _ID_EBML or s_id != _ID_SEGMENT:
            return None
        doctype = None
        for eid, cs, ce in _iter_children(data, h_s, h_e):
            if eid == _ID_DOCTYPE:
                doctype = data[cs:ce]
        if doctype != b"webm":
            return None
        ts_scale = 1_000_000
        duration = None
        tracks: dict[int, tuple[int, bytes]] = {}  # num -> (type, codec)
        width = height = 0
        n_clusters = n_blocks = n_keyframes = 0
        max_abs_ts = None
        prev_cluster_ts = None
        saw_info = saw_tracks = False
        for eid, cs, ce in _iter_children(data, s_s, s_e):
            if eid == _ID_INFO:
                if saw_info:
                    return None
                saw_info = True
                kids = list(_iter_children(data, cs, ce))
                if not kids or kids[0][0] != _ID_CRC32:
                    return None  # CRC-32 must be the first child
                c_s, c_e = kids[0][1], kids[0][2]
                if c_e - c_s != 4:
                    return None
                want = struct.unpack("<I", data[c_s:c_e])[0]
                if zlib.crc32(data[c_e:ce]) != want:
                    return None  # Info books
                for kid, ks, ke in kids[1:]:
                    if kid == _ID_TS_SCALE:
                        ts_scale = _uint(data, ks, ke)
                    elif kid == _ID_DURATION:
                        if ke - ks == 8:
                            duration = struct.unpack(
                                ">d", data[ks:ke]
                            )[0]
                        elif ke - ks == 4:
                            duration = struct.unpack(
                                ">f", data[ks:ke]
                            )[0]
                        else:
                            return None
            elif eid == _ID_TRACKS:
                if saw_tracks:
                    return None
                saw_tracks = True
                for kid, ks, ke in _iter_children(data, cs, ce):
                    if kid != _ID_TRACK_ENTRY:
                        continue
                    num = ttype = None
                    codec = b""
                    for g, gs, ge in _iter_children(data, ks, ke):
                        if g == _ID_TRACK_NUMBER:
                            num = _uint(data, gs, ge)
                        elif g == _ID_TRACK_TYPE:
                            ttype = _uint(data, gs, ge)
                        elif g == _ID_CODEC:
                            codec = data[gs:ge]
                        elif g == _ID_VIDEO:
                            for v, vs, ve in _iter_children(
                                data, gs, ge
                            ):
                                if v == _ID_PIXEL_W:
                                    width = _uint(data, vs, ve)
                                elif v == _ID_PIXEL_H:
                                    height = _uint(data, vs, ve)
                    if num is None or ttype is None:
                        return None
                    if num in tracks:
                        return None  # duplicate track number
                    tracks[num] = (ttype, codec)
            elif eid == _ID_CLUSTER:
                if not (saw_info and saw_tracks):
                    return None  # clusters before headers
                n_clusters += 1
                cluster_ts = None
                for kid, ks, ke in _iter_children(data, cs, ce):
                    if kid == _ID_CLUSTER_TS:
                        cluster_ts = _uint(data, ks, ke)
                        if (
                            prev_cluster_ts is not None
                            and cluster_ts <= prev_cluster_ts
                        ):
                            return None  # must strictly increase
                        prev_cluster_ts = cluster_ts
                    elif kid == _ID_SIMPLE_BLOCK:
                        if cluster_ts is None:
                            return None  # Timestamp must come first
                        got = _read_vint(data, ks, False)
                        if got is None:
                            return None
                        tnum, p = got
                        if tnum not in tracks:
                            return None  # block for unknown track
                        if p + 3 > ke:
                            return None
                        (rel,) = struct.unpack_from(">h", data, p)
                        flags = data[p + 2]
                        n_blocks += 1
                        if flags & 0x80:
                            n_keyframes += 1
                        abs_ts = cluster_ts + rel
                        if max_abs_ts is None or abs_ts > max_abs_ts:
                            max_abs_ts = abs_ts
            else:
                return None  # unknown top-level element
        if duration is None or max_abs_ts is None:
            return None
        if duration != float(max_abs_ts):
            return None  # the container's duration books
        return {
            "n_tracks": len(tracks),
            "width": width,
            "height": height,
            "n_clusters": n_clusters,
            "n_blocks": n_blocks,
            "n_keyframes": n_keyframes,
            "duration_ticks": max_abs_ts,
            "timestamp_scale": ts_scale,
        }
    except (ValueError, struct.error):
        return None


# --------------------------------------------------------------------------
# Spark wrapper: one ``blob_stats`` call (operators/multimodal.py)
# --------------------------------------------------------------------------

WEBM_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_tracks", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_clusters", LongType()),
        StructField("n_blocks", LongType()),
        StructField("n_keyframes", LongType()),
        StructField("duration_ticks", LongType()),
        StructField("timestamp_scale", LongType()),
    ]
)


def webm_stats(df: DataFrame) -> DataFrame:
    """EBML/Matroska container walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_webm, WEBM_SCHEMA, "webm")


# --------------------------------------------------------------------------
# Fixture synthesis
# --------------------------------------------------------------------------


def _enc_vint_id(eid: int) -> bytes:
    n = (eid.bit_length() + 7) // 8
    return eid.to_bytes(n, "big")


def _enc_vint_size(v: int, width: int | None = None) -> bytes:
    if width is None:
        width = 1
        while v >= (1 << (7 * width)) - 1:  # all-ones is reserved
            width += 1
    return ((1 << (7 * width)) | v).to_bytes(width, "big")


def _el(eid: int, payload: bytes) -> bytes:
    return _enc_vint_id(eid) + _enc_vint_size(len(payload)) + payload


def _uint_el(eid: int, v: int) -> bytes:
    n = max(1, (v.bit_length() + 7) // 8)
    return _el(eid, v.to_bytes(n, "big"))


def _webm_nc(i: int) -> int:
    return 3 + i % 5


def _webm_nb(i: int, c: int) -> int:
    return 4 + (i + c) % 6


def make_webm(i: int) -> bytes:
    """Valid webm for id ``i``: video track (V_VP9,
    ``320+16*(i%20)`` x ``240+16*(i%10)``), audio track (A_OPUS)
    when i is odd; ``3 + i%5`` clusters at timestamps 1000*c with
    ``4 + (i+c)%6`` SimpleBlocks each (video keyframe every 4th
    video block, audio blocks always keyframes); the Segment uses an
    UNKNOWN size (live-muxed shape, runs to EOF); Info carries the
    leading CRC-32 element.  Lies: every 13th id flips an Info byte
    after the CRC (refused); every 17th-miss id shortens a cluster's
    declared size by one (tiling refused); every 19th-miss id
    overstates Duration by 40 ticks (books refused)."""
    has_audio = i % 2 == 1
    w = 320 + 16 * (i % 20)
    h = 240 + 16 * (i % 10)
    nc = _webm_nc(i)
    header = _el(
        _ID_EBML,
        _el(_ID_DOCTYPE, b"webm"),
    )
    clusters = []
    max_ts = 0
    for c in range(nc):
        cts = 1000 * c
        body = _uint_el(_ID_CLUSTER_TS, cts)
        for b in range(_webm_nb(i, c)):
            track = 2 if has_audio and b % 2 == 1 else 1
            rel = 40 * b
            if track == 1:
                key = (b % 4) == 0
            else:
                key = True
            frame = bytes(
                (5 * i + 7 * c + 11 * b + k) % 256
                for k in range(10 + (i + b) % 30)
            )
            blk = (
                _enc_vint_size(track)
                + struct.pack(">h", rel)
                + bytes([0x80 if key else 0])
                + frame
            )
            body += _el(_ID_SIMPLE_BLOCK, blk)
            max_ts = max(max_ts, cts + rel)
        clusters.append(_el(_ID_CLUSTER, body))
    duration = float(max_ts)
    if i % 19 == 0 and i % 13 != 0 and i % 17 != 0:
        duration += 40.0
    info_rest = _uint_el(_ID_TS_SCALE, 1_000_000) + _el(
        _ID_DURATION, struct.pack(">d", duration)
    )
    if i % 13 == 0:
        # flip a byte covered by the CRC, keeping the stored CRC
        crc = zlib.crc32(info_rest)
        flipped = bytearray(info_rest)
        flipped[-1] ^= 0x01
        info_rest = bytes(flipped)
    else:
        crc = zlib.crc32(info_rest)
    info = _el(
        _ID_INFO,
        _el(_ID_CRC32, struct.pack("<I", crc)) + info_rest,
    )
    video_entry = _el(
        _ID_TRACK_ENTRY,
        _uint_el(_ID_TRACK_NUMBER, 1)
        + _uint_el(_ID_TRACK_TYPE, 1)
        + _el(_ID_CODEC, b"V_VP9")
        + _el(
            _ID_VIDEO,
            _uint_el(_ID_PIXEL_W, w) + _uint_el(_ID_PIXEL_H, h),
        ),
    )
    entries = video_entry
    if has_audio:
        entries += _el(
            _ID_TRACK_ENTRY,
            _uint_el(_ID_TRACK_NUMBER, 2)
            + _uint_el(_ID_TRACK_TYPE, 2)
            + _el(_ID_CODEC, b"A_OPUS"),
        )
    tracks = _el(_ID_TRACKS, entries)
    seg_payload = info + tracks + b"".join(clusters)
    if i % 17 == 0 and i % 13 != 0:
        # shorten the last cluster's declared size by one byte:
        # children no longer tile the Segment
        last = clusters[-1]
        got = _read_vint(last, 4, False)  # size vint after 4-byte id
        assert got is not None
        size, body_start = got
        body = last[body_start:]
        lying = (
            _enc_vint_id(_ID_CLUSTER)
            + _enc_vint_size(size - 1, body_start - 4)
            + body
        )
        seg_payload = info + tracks + b"".join(
            clusters[:-1]
        ) + lying
    # unknown-size Segment: 0x01 FF FF FF FF FF FF FF
    segment = (
        _enc_vint_id(_ID_SEGMENT) + b"\x01" + b"\xff" * 7 + seg_payload
    )
    return header + segment


def synthesize_webm_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of webm containers."""
    return synthesize_blobs(docs, make_webm, blob_meta("webm"))
