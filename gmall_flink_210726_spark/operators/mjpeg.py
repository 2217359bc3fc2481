"""Video frame sampling with REAL decode: MJPEG-in-MP4.

Round-9 brief item: ``operators/mp4.py`` (L140) parses the sample
tables — codec, sizes, chunk offsets — but stopped short of pulling
frames out of ``mdat``. This module is the composition that makes
frame sampling video-real: walk the box tree, read the per-sample
byte ranges from stsz/stsc/stco, slice every STRIDE-th sample out of
``mdat``, and decode each sliced frame with the existing from-scratch
baseline-JPEG decoder (``operators/jpeg.py`` — T.81 marker walk,
canonical Huffman, dequant, IDCT). 'jpeg' is the registered sample
4cc for motion-JPEG video in the QuickTime/ISO-BMFF family, so the
fixture is a genuine playable-shape MJPEG track.

Integrity contract: the sample table is a PROMISE about byte ranges —
the walk validates that every sample (sampled or not) lies inside the
file, that stts's run total equals stsz's count, and that stsc maps
all samples into the single chunk; every sampled frame must decode.
Any violation degrades the row to ``format='unknown'``.

Scale notes: a frame sampler is the canonical pay-per-frame stage of
video ingest — only the sampled byte ranges are touched, the stride
cuts decode cost by 1/STRIDE, and the whole pass is an Arrow-batched
``mapInPandas`` with zero shuffle (blobs never leave their input
partition; only integer stats ship).

Grammar sources: ISO/IEC 14496-12 (boxes, sample tables), ITU-T T.81
(JPEG). Box-walk conventions shared with operators/mp4.py.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.jpeg import _decode_jpeg, _make_jpeg
from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)

_MAX_DEPTH = 12
_STRIDE = 2  # decode every 2nd frame — the sampling knob
_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _collect_track(
    data: bytes, start: int, end: int, st: dict, depth: int = 0
) -> bool:
    """Box walk collecting ONE video track's sample tables into
    ``st``: codec, stts run total, per-sample sizes, stsc entries,
    chunk offsets. False on any grammar violation."""
    if depth > _MAX_DEPTH:
        return False
    pos = start
    while pos < end:
        if pos + 8 > end:
            return False
        size, btype = struct.unpack_from(">I4s", data, pos)
        if size < 8 or pos + size > end:
            return False
        body, bend = pos + 8, pos + size
        if btype in _CONTAINERS:
            if btype == b"trak":
                st["n_traks"] = st.get("n_traks", 0) + 1
                if st["n_traks"] > 1:
                    return False  # fixture contract: one video track
            if not _collect_track(data, body, bend, st, depth + 1):
                return False
        elif btype == b"stsd":
            if size < 8 + 16:
                return False
            n_ent = struct.unpack_from(">I", data, body + 4)[0]
            if n_ent != 1:
                return False
            esize, fourcc = struct.unpack_from(">I4s", data, body + 8)
            if esize < 16 or body + 8 + esize > bend:
                return False
            st["codec"] = fourcc.decode("latin-1")
        elif btype == b"stts":
            n_ent = struct.unpack_from(">I", data, body + 4)[0]
            if size != 16 + 8 * n_ent:
                return False
            cnt = 0
            for k in range(n_ent):
                c, _d = struct.unpack_from(">II", data, body + 8 + 8 * k)
                cnt += c
            st["stts_count"] = cnt
        elif btype == b"stsz":
            fixed, n_s = struct.unpack_from(">II", data, body + 4)
            if fixed != 0 or size != 20 + 4 * n_s:
                return False
            st["sizes"] = list(
                struct.unpack_from(f">{n_s}I", data, body + 12)
            )
        elif btype == b"stsc":
            n_ent = struct.unpack_from(">I", data, body + 4)[0]
            if size != 16 + 12 * n_ent:
                return False
            st["stsc"] = [
                struct.unpack_from(">III", data, body + 8 + 12 * k)
                for k in range(n_ent)
            ]
        elif btype == b"stco":
            n_c = struct.unpack_from(">I", data, body + 4)[0]
            if size != 16 + 4 * n_c or n_c < 1:
                return False
            st["stco"] = list(
                struct.unpack_from(f">{n_c}I", data, body + 8)
            )
        pos += size
    return pos == end


def _walk_mjpeg(data: bytes) -> dict | None:
    st: dict = {}
    if not _collect_track(data, 0, len(data), st):
        return None
    sizes = st.get("sizes")
    stco = st.get("stco")
    stsc = st.get("stsc")
    if (
        st.get("codec") != "jpeg"
        or sizes is None
        or stco is None
        or stsc is None
        or st.get("stts_count") != len(sizes)
    ):
        return None
    n = len(sizes)
    # single-chunk layout: stsc maps every sample into chunk 1
    if len(stco) != 1 or stsc != [(1, n, 1)]:
        return None
    base = stco[0]
    # the table is a promise: EVERY sample must lie inside the file
    if base + sum(sizes) > len(data):
        return None
    n_dec = psum = npix = 0
    first_w = first_h = 0
    off = base
    for j, sz in enumerate(sizes):
        if j % _STRIDE == 0:
            try:
                w, h, px = _decode_jpeg(data[off : off + sz])
            except (ValueError, struct.error, IndexError):
                return None
            if n_dec == 0:
                first_w, first_h = int(w), int(h)
            n_dec += 1
            npix += int(w) * int(h)
            psum += int(px.sum(dtype="int64"))
        off += sz
    return {
        "n_frames": n,
        "n_decoded": n_dec,
        "first_width": first_w,
        "first_height": first_h,
        "n_pixels": npix,
        "pixel_sum": psum,
    }


MJPEG_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_frames", LongType()),
        StructField("n_decoded", LongType()),
        StructField("first_width", LongType()),
        StructField("first_height", LongType()),
        StructField("n_pixels", LongType()),
        StructField("pixel_sum", LongType()),
    ]
)


def mjpeg_frame_sample(df: DataFrame) -> DataFrame:
    """Frame-sampling decode over MEDIA_SCHEMA blobs (module doc)."""
    return blob_stats(df, _walk_mjpeg, MJPEG_SCHEMA, "mjpeg")


# --------------------------------------------------------------------------
# Fixture synthesis
# --------------------------------------------------------------------------


def _frame_seed(i: int, j: int) -> int:
    """Per-frame JPEG seed; nudged off the jpeg fixture's corrupt
    stripe so every embedded frame is a VALID image (corruption is
    this module's own knob, at the container layer)."""
    s = i * 31 + 17 * j + 2
    return s + 1 if s % 13 == 0 else s


def _make_mjpeg(i: int) -> bytes:
    """One 'jpeg'-codec video track, ``4 + i % 5`` frames stored
    back-to-back in a single mdat chunk; stsz carries the true frame
    byte sizes and stco points at the first frame. Every 10th id loses
    the tail of mdat — the sample-table promise breaks and the row
    must degrade."""
    n = 4 + i % 5
    frames = [_make_jpeg(_frame_seed(i, j)) for j in range(n)]
    sizes = [len(f) for f in frames]

    tkhd = struct.pack(">I4sIII", 24, b"tkhd", 0, 0, 0) + struct.pack(
        ">I", 1
    )
    entry = struct.pack(">I4s", 16, b"jpeg") + b"\x00" * 8
    stsd = struct.pack(">I4sII", 16 + len(entry), b"stsd", 0, 1) + entry
    stts = struct.pack(">I4sIIII", 24, b"stts", 0, 1, n, 100)
    stsc = struct.pack(">I4sIIIII", 28, b"stsc", 0, 1, 1, n, 1)
    stsz = struct.pack(">I4sIII", 20 + 4 * n, b"stsz", 0, 0, n)
    stsz += struct.pack(f">{n}I", *sizes)
    # stco patched after the moov size is known
    stco_placeholder = struct.pack(">I4sII", 20, b"stco", 0, 1)

    def build(stco_off: int) -> bytes:
        stco = stco_placeholder + struct.pack(">I", stco_off)
        stbl_body = stsd + stts + stsc + stsz + stco
        stbl = struct.pack(">I4s", 8 + len(stbl_body), b"stbl") + stbl_body
        minf = struct.pack(">I4s", 8 + len(stbl), b"minf") + stbl
        mdia = struct.pack(">I4s", 8 + len(minf), b"mdia") + minf
        trak_body = tkhd + mdia
        trak = struct.pack(">I4s", 8 + len(trak_body), b"trak") + trak_body
        return struct.pack(">I4s", 8 + len(trak), b"moov") + trak

    ftyp = struct.pack(
        ">I4s4sI4s4s", 24, b"ftyp", b"isom", 0, b"isom", b"mp42"
    )
    moov_len = len(build(0))
    first_frame_off = len(ftyp) + moov_len + 8  # + mdat header
    moov = build(first_frame_off)
    payload = b"".join(frames)
    mdat = struct.pack(">I4s", 8 + len(payload), b"mdat") + payload
    blob = ftyp + moov + mdat
    return blob[: len(blob) - 11] if i % 10 == 0 else blob


def synthesize_mjpeg_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of MJPEG-in-MP4 blobs."""
    return synthesize_blobs(docs, _make_mjpeg, blob_meta("mjpeg"))
