"""REAL MP4 / ISO-BMFF container parsing over binary columns.

Beyond-reference surface (BASELINE.json north star), sibling of the
PNG/JPEG/GIF/TIFF/BMP/WAV decoders: a genuine ISO base-media-file-format
box walk — `ftyp` brand read, recursive descent into the `moov`
container, `mvhd` v0 timescale/duration parse at their spec offsets,
`trak` child count, and an exact byte sum over the `mdat` payload.
This is the metadata-extraction step a video ingestion pipeline runs
BEFORE any codec work (which frames to decode, how long the clip is,
whether the container is well-formed) — frame decoding itself is the
`multimodal_frame_sample` stub's job.

Box grammar implemented (ISO/IEC 14496-12 §4.2): every box is
``uint32 size | 4cc type | payload``; ``size`` covers the header;
containers (`moov`, `trak`) hold a concatenated child-box sequence.
Oversized/truncated/zero-size boxes abort the walk and degrade the row
to ``format='unknown'`` (the corrupt-stripe contract every decoder in
this package follows).

Scale design: identical to the other decoders — Arrow-batched
mapInPandas, blobs cross into Python once per batch, a handful of
integer stats per file is all that shuffles.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    map_pandas,
    synthesize_blobs,
)

MP4_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("brand", StringType()),
        StructField("timescale", LongType()),
        StructField("duration_ms", LongType()),
        StructField("n_tracks", LongType()),
        StructField("n_boxes", LongType()),
        StructField("mdat_bytes", LongType()),
        StructField("payload_sum", LongType()),
    ]
)

_CONTAINERS = {b"moov", b"trak"}


_MAX_DEPTH = 16


def _walk(data: bytes, start: int, end: int, st: dict, depth: int = 0) -> bool:
    """Recursive box walk over data[start:end); accumulates stats in
    ``st``. Returns False on any grammar violation. Depth-capped so a
    malformed deeply-nested container tree degrades instead of
    exhausting the stack."""
    if depth > _MAX_DEPTH:
        return False
    pos = start
    while pos < end:
        if pos + 8 > end:
            return False
        size, btype = struct.unpack_from(">I4s", data, pos)
        if size < 8 or pos + size > end:
            return False
        st["n_boxes"] += 1
        body = pos + 8
        if btype == b"ftyp":
            if size < 16:
                return False
            st["brand"] = data[body : body + 4].decode("latin-1")
        elif btype == b"mvhd":
            # v0: version/flags(4) ctime(4) mtime(4) timescale(4) dur(4)
            if size < 8 + 20 or data[body] != 0:
                return False
            st["timescale"], st["duration"] = struct.unpack_from(
                ">II", data, body + 12
            )
        elif btype == b"trak":
            st["n_tracks"] += 1
        elif btype == b"mdat":
            st["mdat_bytes"] = size - 8
            st["payload_sum"] = sum(data[body : pos + size])
        if btype in _CONTAINERS:
            if not _walk(data, body, pos + size, st, depth + 1):
                return False
        pos += size
    return pos == end


def _mp4_stats(b: bytes) -> dict | None:
    st = {
        "brand": None,
        "timescale": 0,
        "duration": 0,
        "n_tracks": 0,
        "n_boxes": 0,
        "mdat_bytes": 0,
        "payload_sum": 0,
    }
    if not (_walk(b, 0, len(b), st) and st["brand"] and st["timescale"] > 0):
        return None
    return dict(
        brand=st["brand"],
        timescale=st["timescale"],
        # integer ms, truncating division (positive operands:
        # Python // == SQL // here)
        duration_ms=st["duration"] * 1000 // st["timescale"],
        n_tracks=st["n_tracks"],
        n_boxes=st["n_boxes"],
        mdat_bytes=st["mdat_bytes"],
        payload_sum=st["payload_sum"],
    )


def mp4_box_stats(df: DataFrame) -> DataFrame:
    """ISO-BMFF box-tree parse + mdat byte stats over MEDIA_SCHEMA
    blobs (see module doc)."""
    return blob_stats(df, _mp4_stats, MP4_SCHEMA, "mp4")


_IDENTITY_MATRIX = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)


def synthesize_mp4_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL minimal-but-compliant MP4 blobs:
    ftyp(brand cycles isom/mp42/avc1) + moov(mvhd v0 with LCG
    timescale/duration + n_tracks x trak(tkhd v0)) + mdat with LCG
    payload bytes — every field a formula of the id so a DuckDB oracle
    recomputes the whole output blind. Every 13th id is truncated
    mid-moov — the corrupt stripe that must degrade to 'unknown'."""

    def make(i: int) -> bytes:
        brand = (b"isom", b"mp42", b"avc1")[i % 3]
        timescale = 1000 * (1 + i % 4)
        duration = 500 + i % 1000
        n_tracks = 1 + i % 3
        n = 64 + i % 128
        # 24 declared == 24 actual: major brand + minor version + TWO
        # compatible brands (isom + the major brand again).
        ftyp = struct.pack(">I4s4sI4s4s", 24, b"ftyp", brand, 0, b"isom", brand)
        mvhd = (
            struct.pack(">I4s", 108, b"mvhd")
            + struct.pack(">IIIII", 0, 0, 0, timescale, duration)
            + struct.pack(">iHH", 0x00010000, 0x0100, 0)
            + b"\x00" * 8
            + _IDENTITY_MATRIX
            + b"\x00" * 24
            + struct.pack(">I", n_tracks + 1)
        )
        traks = b""
        for t in range(n_tracks):
            tkhd = (
                struct.pack(">I4s", 92, b"tkhd")
                + struct.pack(">IIIIII", 0, 0, 0, t + 1, 0, duration)
                + b"\x00" * 16
                + _IDENTITY_MATRIX
                + struct.pack(">ii", 0, 0)
            )
            traks += struct.pack(">I4s", 8 + len(tkhd), b"trak") + tkhd
        moov = struct.pack(">I4s", 8 + len(mvhd) + len(traks), b"moov")
        moov += mvhd + traks
        payload = bytes((i * 17 + 11 * j) % 256 for j in range(n))
        mdat = struct.pack(">I4s", 8 + n, b"mdat") + payload
        blob = ftyp + moov + mdat
        return blob[:30] if i % 13 == 0 else blob

    return synthesize_blobs(docs, make, blob_meta("mp4"))


# --------------------------------------------------------------------------
# Sample tables (stbl): the frame-sampling entry point video needs.
# --------------------------------------------------------------------------

SAMPLES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("track_id", LongType()),
        StructField("codec", StringType()),
        StructField("n_samples", LongType()),
        StructField("duration_ticks", LongType()),
        StructField("total_bytes", LongType()),
        StructField("n_chunks", LongType()),
        StructField("first_offset", LongType()),
    ]
)

_STBL_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _walk_tracks(data: bytes, start: int, end: int, out: dict, depth: int = 0):
    """Box walk collecting per-track sample-table stats. ``out`` holds
    ``tracks`` (list of per-track dicts) and ``cur`` (the track being
    filled while inside its trak subtree). Returns False on any
    grammar violation — the whole blob then degrades."""
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
        if btype == b"trak":
            if out["cur"] is not None:  # nested trak is not a thing
                return False
            out["cur"] = {
                "track_id": 0,
                "codec": "",
                "n_samples": -1,
                "duration_ticks": -1,
                "total_bytes": -1,
                "n_chunks": -1,
                "first_offset": -1,
            }
            if not _walk_tracks(data, body, bend, out, depth + 1):
                return False
            t = out["cur"]
            out["cur"] = None
            # a track must have produced all four tables coherently
            if min(t["n_samples"], t["duration_ticks"], t["total_bytes"],
                   t["n_chunks"]) < 0 or not t["codec"]:
                return False
            out["tracks"].append(t)
        elif btype in _STBL_CONTAINERS:
            if not _walk_tracks(data, body, bend, out, depth + 1):
                return False
        elif out["cur"] is not None:
            t = out["cur"]
            if btype == b"tkhd":
                # v0: version/flags(4) ctime(4) mtime(4) track_id(4)
                if size < 8 + 16 or data[body] != 0:
                    return False
                t["track_id"] = struct.unpack_from(">I", data, body + 12)[0]
            elif btype == b"stsd":
                # version/flags(4) entry_count(4) entry(size(4) 4cc ...)
                if size < 8 + 16:
                    return False
                n_ent = struct.unpack_from(">I", data, body + 4)[0]
                if n_ent != 1:
                    return False
                esize, fourcc = struct.unpack_from(">I4s", data, body + 8)
                if esize < 16 or body + 8 + esize > bend:
                    return False
                t["codec"] = fourcc.decode("latin-1")
            elif btype == b"stts":
                n_ent = struct.unpack_from(">I", data, body + 4)[0]
                if size != 16 + 8 * n_ent:
                    return False
                cnt = dur = 0
                for k in range(n_ent):
                    c, d = struct.unpack_from(">II", data, body + 8 + 8 * k)
                    cnt += c
                    dur += c * d
                t["stts_count"], t["duration_ticks"] = cnt, dur
            elif btype == b"stsz":
                fixed, n_s = struct.unpack_from(">II", data, body + 4)
                if fixed != 0 or size != 20 + 4 * n_s:
                    return False
                t["n_samples"] = n_s
                t["total_bytes"] = sum(
                    struct.unpack_from(f">{n_s}I", data, body + 12)
                )
            elif btype == b"stco":
                n_c = struct.unpack_from(">I", data, body + 4)[0]
                if size != 16 + 4 * n_c or n_c < 1:
                    return False
                t["n_chunks"] = n_c
                t["first_offset"] = struct.unpack_from(">I", data, body + 8)[0]
        pos += size
    return pos == end


def _samples_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    out = []
    for mid, blob in zip(pdf["media_id"], pdf["content"]):
        mid = int(mid)
        st = {"tracks": [], "cur": None}
        b = bytes(blob) if blob is not None else b""
        try:
            ok = _walk_tracks(b, 0, len(b), st)
        except Exception:
            ok = False
        # stts sample count must agree with stsz's for every track
        ok = ok and st["tracks"] and all(
            t.pop("stts_count", -1) == t["n_samples"] for t in st["tracks"]
        )
        if ok:
            for t in st["tracks"]:
                out.append({"media_id": mid, **t})
        else:
            out.append(
                {
                    "media_id": mid,
                    "track_id": 0,
                    "codec": "unknown",
                    "n_samples": 0,
                    "duration_ticks": 0,
                    "total_bytes": 0,
                    "n_chunks": 0,
                    "first_offset": 0,
                }
            )
    return pd.DataFrame(out, columns=[f.name for f in SAMPLES_SCHEMA.fields])


def mp4_sample_tables(df: DataFrame) -> DataFrame:
    """Per-track stsd/stts/stsz/stco parse over MEDIA_SCHEMA blobs:
    codec 4cc, sample count (stsz, cross-checked against the stts run
    total), duration in timescale ticks, exact byte extent, chunk
    count and first chunk offset — the metadata a frame sampler needs
    to seek without decoding. Corrupt blobs degrade to ONE
    codec='unknown' row (the corrupt-stripe contract)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _samples_batch(pdf)

    return map_pandas(df, gen, SAMPLES_SCHEMA, ["media_id", "content"])


def synthesize_mp4_sampletables(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of MP4 blobs with full trak/mdia/minf/stbl
    trees (stsd+stts+stsz+stco per track) — every field an LCG formula
    of (doc_id, track index) so a DuckDB oracle recomputes the decoded
    output blind. Every 11th id is truncated mid-stbl — the corrupt
    stripe that must degrade to one codec='unknown' row."""

    def make(i: int) -> bytes:
        brand = (b"isom", b"mp42", b"avc1")[i % 3]
        n_tracks = 1 + i % 3
        ftyp = struct.pack(">I4s4sI4s4s", 24, b"ftyp", brand, 0, b"isom", brand)
        traks = b""
        for t in range(n_tracks):
            tkhd = struct.pack(
                ">I4sIII", 24, b"tkhd", 0, 0, 0
            ) + struct.pack(">I", t + 1)
            codec = (b"avc1", b"mp4a", b"hvc1")[(i + t) % 3]
            entry = struct.pack(">I4s", 16, codec) + b"\x00" * 8
            stsd = struct.pack(">I4sII", 16 + len(entry), b"stsd", 0, 1) + entry
            n_s = 8 + (i + 3 * t) % 13
            a = 1 + (i + t) % 4
            d1 = 100 + (i * 7 + t) % 50
            d2 = 200 + (i * 11 + 3 * t) % 60
            stts = struct.pack(
                ">I4sII IIII".replace(" ", ""),
                16 + 16, b"stts", 0, 2, a, d1, n_s - a, d2,
            )
            sizes = [50 + (i * 13 + 7 * t + 29 * j) % 100 for j in range(n_s)]
            stsz = struct.pack(">I4sIII", 20 + 4 * n_s, b"stsz", 0, 0, n_s)
            stsz += struct.pack(f">{n_s}I", *sizes)
            n_c = 1 + (i + t) % 3
            offs = [1000 * (t + 1) + 512 * c + i % 97 for c in range(n_c)]
            stco = struct.pack(">I4sII", 16 + 4 * n_c, b"stco", 0, n_c)
            stco += struct.pack(f">{n_c}I", *offs)
            stbl_body = stsd + stts + stsz + stco
            stbl = struct.pack(">I4s", 8 + len(stbl_body), b"stbl") + stbl_body
            minf = struct.pack(">I4s", 8 + len(stbl), b"minf") + stbl
            mdia = struct.pack(">I4s", 8 + len(minf), b"mdia") + minf
            trak_body = tkhd + mdia
            traks += struct.pack(">I4s", 8 + len(trak_body), b"trak") + trak_body
        moov = struct.pack(">I4s", 8 + len(traks), b"moov") + traks
        blob = ftyp + moov
        return blob[: len(blob) - 23] if i % 11 == 0 else blob

    return synthesize_blobs(docs, make, blob_meta("mp4"))


# --------------------------------------------------------------------------
# Fragmented MP4 (moof/traf/trun): the DASH/CMAF streaming layout
# (ISO/IEC 14496-12 §8.8) where samples live in per-fragment track
# runs instead of the moov sample tables
# --------------------------------------------------------------------------

FMP4_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_tracks", LongType()),
        StructField("n_fragments", LongType()),
        StructField("n_samples", LongType()),
        StructField("total_bytes", LongType()),
        StructField("total_duration", LongType()),
        StructField("payload_sum", LongType()),
    ]
)

_TF_BASE_IS_MOOF = 0x20000
_TF_BASE_DATA_OFFSET = 0x01
_TF_SDESC = 0x02
_TF_DFLT_DUR = 0x08
_TF_DFLT_SIZE = 0x10
_TF_DFLT_FLAGS = 0x20
_TR_DATA_OFFSET = 0x01
_TR_FIRST_FLAGS = 0x04
_TR_DUR = 0x100
_TR_SIZE = 0x200
_TR_FLAGS = 0x400
_TR_CTS = 0x800


def _parse_trex(data: bytes, body: int, bend: int) -> dict | None:
    """mvex walk -> {track_id: (default_duration, default_size)}."""
    out = {}
    pos = body
    while pos < bend:
        if pos + 8 > bend:
            return None
        size, btype = struct.unpack_from(">I4s", data, pos)
        if size < 8 or pos + size > bend:
            return None
        if btype == b"trex":
            if size != 8 + 24:
                return None
            tid, _sdi, dur, sz, _fl = struct.unpack_from(
                ">IIIII", data, pos + 12
            )
            if tid in out:
                return None
            out[tid] = (dur, sz)
        pos += size
    return out


def _parse_traf(data: bytes, body: int, bend: int, trex: dict):
    """traf box -> (track_id, tfdt, data_offset, [(dur, size)]);
    raises ValueError on any grammar/flag violation. Only the
    CMAF-style default-base-is-moof addressing is implemented — a
    legacy base-data-offset traf refuses rather than guessing."""
    tid = None
    tfdt = None
    dflt_dur = dflt_size = None
    trun = None
    pos = body
    while pos < bend:
        if pos + 8 > bend:
            raise ValueError("fmp4: truncated traf child")
        size, btype = struct.unpack_from(">I4s", data, pos)
        if size < 8 or pos + size > bend:
            raise ValueError("fmp4: bad traf child size")
        p = pos + 8
        if btype == b"tfhd":
            (vf,) = struct.unpack_from(">I", data, p)
            flags = vf & 0xFFFFFF
            if not flags & _TF_BASE_IS_MOOF:
                raise ValueError("fmp4: base-is-moof required")
            if flags & _TF_BASE_DATA_OFFSET:
                raise ValueError("fmp4: base-data-offset unsupported")
            (tid,) = struct.unpack_from(">I", data, p + 4)
            q = p + 8
            if flags & _TF_SDESC:
                q += 4
            if flags & _TF_DFLT_DUR:
                (dflt_dur,) = struct.unpack_from(">I", data, q)
                q += 4
            if flags & _TF_DFLT_SIZE:
                (dflt_size,) = struct.unpack_from(">I", data, q)
                q += 4
            if flags & _TF_DFLT_FLAGS:
                q += 4
            if q != pos + size:
                raise ValueError("fmp4: tfhd size mismatch")
        elif btype == b"tfdt":
            ver = data[p]
            if ver == 0:
                if size != 16:
                    raise ValueError("fmp4: tfdt v0 size")
                (tfdt,) = struct.unpack_from(">I", data, p + 4)
            elif ver == 1:
                if size != 20:
                    raise ValueError("fmp4: tfdt v1 size")
                (tfdt,) = struct.unpack_from(">Q", data, p + 4)
            else:
                raise ValueError("fmp4: tfdt version")
        elif btype == b"trun":
            if trun is not None:
                raise ValueError("fmp4: one trun per traf")
            (vf,) = struct.unpack_from(">I", data, p)
            flags = vf & 0xFFFFFF
            (n_s,) = struct.unpack_from(">I", data, p + 4)
            if n_s == 0 or n_s > 10_000:
                raise ValueError("fmp4: absurd sample count")
            q = p + 8
            if not flags & _TR_DATA_OFFSET:
                raise ValueError("fmp4: data-offset required")
            (doff,) = struct.unpack_from(">i", data, q)
            q += 4
            if flags & _TR_FIRST_FLAGS:
                q += 4
            per = []
            for _ in range(n_s):
                dur = sz = None
                if flags & _TR_DUR:
                    (dur,) = struct.unpack_from(">I", data, q)
                    q += 4
                if flags & _TR_SIZE:
                    (sz,) = struct.unpack_from(">I", data, q)
                    q += 4
                if flags & _TR_FLAGS:
                    q += 4
                if flags & _TR_CTS:
                    q += 4
                per.append((dur, sz))
            if q != pos + size:
                raise ValueError("fmp4: trun size mismatch")
            trun = (doff, per)
        pos += size
    if tid is None or tfdt is None or trun is None:
        raise ValueError("fmp4: traf missing tfhd/tfdt/trun")
    if tid not in trex:
        raise ValueError("fmp4: traf for unknown track")
    doff, per = trun
    samples = []
    for dur, sz in per:
        if dur is None:
            dur = dflt_dur if dflt_dur is not None else trex[tid][0]
        if sz is None:
            sz = dflt_size if dflt_size is not None else trex[tid][1]
        if not dur or not sz:
            raise ValueError("fmp4: unresolved sample duration/size")
        samples.append((dur, sz))
    return tid, tfdt, doff, samples


def read_mp4_fragments(data: bytes) -> dict | None:
    """Fragmented-MP4 walk: ftyp + moov(mvex/trex defaults), then
    moof/mdat pairs. Trust chain: mfhd sequence numbers must run
    1..n with no gap, every traf's tfdt must equal the track's
    accumulated duration, every trun's data offset must land its run
    exactly where the previous traf's ended (default-base-is-moof
    addressing), and the runs must TILE the fragment's mdat payload
    exactly — a trun/mdat disagreement degrades. None on any
    violation."""
    if len(data) < 16:
        return None
    pos = 0
    trex = None
    n_frags = n_samples = total_bytes = total_dur = payload_sum = 0
    track_time: dict[int, int] = {}
    seq_expected = 1
    saw_ftyp = False
    try:
        while pos < len(data):
            if pos + 8 > len(data):
                return None
            size, btype = struct.unpack_from(">I4s", data, pos)
            if size < 8 or pos + size > len(data):
                return None
            body, bend = pos + 8, pos + size
            if btype == b"ftyp":
                saw_ftyp = True
            elif btype == b"moov":
                # descend to mvex for the trex defaults
                q = body
                while q < bend:
                    s2, t2 = struct.unpack_from(">I4s", data, q)
                    if s2 < 8 or q + s2 > bend:
                        return None
                    if t2 == b"mvex":
                        trex = _parse_trex(data, q + 8, q + s2)
                        if trex is None:
                            return None
                    q += s2
            elif btype == b"moof":
                if trex is None:
                    return None  # fragments before defaults
                q = body
                seq = None
                trafs = []
                while q < bend:
                    s2, t2 = struct.unpack_from(">I4s", data, q)
                    if s2 < 8 or q + s2 > bend:
                        return None
                    if t2 == b"mfhd":
                        if s2 != 16:
                            return None
                        (seq,) = struct.unpack_from(
                            ">I", data, q + 12
                        )
                    elif t2 == b"traf":
                        trafs.append(
                            _parse_traf(data, q + 8, q + s2, trex)
                        )
                    q += s2
                if seq is None or not trafs:
                    return None
                if seq != seq_expected:
                    return None  # sequence-number gap
                seq_expected += 1
                # the paired mdat must follow immediately
                if bend + 8 > len(data):
                    return None
                msize, mtype = struct.unpack_from(">I4s", data, bend)
                if mtype != b"mdat" or msize < 8 or bend + msize > len(
                    data
                ):
                    return None
                payload = data[bend + 8 : bend + msize]
                cum = 0
                for tid, tfdt, doff, samples in trafs:
                    if track_time.get(tid, 0) != tfdt:
                        return None  # decode-time chain broken
                    if doff != size + 8 + cum:
                        return None  # run must start where the last ended
                    run_bytes = sum(s for _d, s in samples)
                    run_dur = sum(d for d, _s in samples)
                    cum += run_bytes
                    track_time[tid] = tfdt + run_dur
                    n_samples += len(samples)
                    total_bytes += run_bytes
                    total_dur += run_dur
                if cum != len(payload):
                    return None  # trun/mdat disagreement
                payload_sum += sum(payload)
                n_frags += 1
                pos = bend + msize
                continue
            elif btype == b"mdat":
                return None  # an orphan mdat no moof claimed
            pos = bend
    except (ValueError, struct.error):
        return None
    if not saw_ftyp or trex is None or n_frags == 0:
        return None
    return {
        "n_tracks": len(trex),
        "n_fragments": n_frags,
        "n_samples": n_samples,
        "total_bytes": total_bytes,
        "total_duration": total_dur,
        "payload_sum": payload_sum,
    }


def mp4_fragment_stats(df: DataFrame) -> DataFrame:
    """fMP4 moof/traf/trun walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_mp4_fragments, FMP4_SCHEMA, "fmp4")


def _fmp4_ns(i: int, f: int, t: int) -> int:
    return 3 + (i + f + t) % 5


def _fmp4_size(i: int, f: int, t: int, j: int) -> int:
    return 20 + (i * 7 + f * 5 + t * 3 + j) % 40


def _fmp4_dur(i: int, f: int, j: int) -> int:
    return 30 + (i + f + j) % 25


def _make_fmp4(i: int) -> bytes:
    """``1 + i % 2`` tracks, ``2 + i % 4`` fragments. Per (fragment,
    track): when (f+t) is even the trun carries PER-SAMPLE sizes and
    the duration comes from the tfhd default; when odd, sizes come
    from the trex default and the trun carries per-sample durations
    — every resolution path exercised. mdat payload bytes are the
    LCG (i + 31f + 7p) % 256. Stripes: every 13th id's last mdat is
    one byte SHORT (trun/mdat disagreement); every 17th-miss id
    skips a sequence number; every 19th-miss id's last tfdt is off
    by one — all degrade."""
    n_tracks = 1 + i % 2
    n_frags = 2 + i % 4
    trex_dur = {t: 90 + (i + t) % 20 for t in range(1, n_tracks + 1)}
    trex_size = {t: 50 + (i + t) % 30 for t in range(1, n_tracks + 1)}
    ftyp = struct.pack(
        ">I4s4sI4s4s", 24, b"ftyp", b"cmfc", 0, b"isom", b"cmfc"
    )
    trexes = b""
    for t in range(1, n_tracks + 1):
        trexes += struct.pack(
            ">I4sIIIIII", 32, b"trex", 0, t, 1,
            trex_dur[t], trex_size[t], 0,
        )
    mvex = struct.pack(">I4s", 8 + len(trexes), b"mvex") + trexes
    moov = struct.pack(">I4s", 8 + len(mvex), b"moov") + mvex
    out = bytearray(ftyp + moov)
    track_time = {t: 0 for t in range(1, n_tracks + 1)}
    for f in range(n_frags):
        seq = f + 1
        if i % 17 == 0 and i % 13 != 0 and f == n_frags - 1:
            seq += 1  # sequence gap
        mfhd = struct.pack(">I4sII", 16, b"mfhd", 0, seq)
        # first pass: per-traf samples + byte extents
        plans = []
        for t in range(1, n_tracks + 1):
            ns = _fmp4_ns(i, f, t)
            if (f + t) % 2 == 0:
                sizes = [_fmp4_size(i, f, t, j) for j in range(ns)]
                durs = [100 + (i + f) % 20] * ns
                mode = "sizes"
            else:
                sizes = [trex_size[t]] * ns
                durs = [_fmp4_dur(i, f, j) for j in range(ns)]
                mode = "durs"
            plans.append((t, ns, sizes, durs, mode))

        def traf_bytes(t, ns, sizes, durs, mode, doff):
            tfdt_v = track_time[t]
            if (
                i % 19 == 0
                and i % 13 != 0
                and i % 17 != 0
                and f == n_frags - 1
                and t == plans[-1][0]
            ):
                tfdt_v += 1  # decode-time lie
            if mode == "sizes":
                tfhd = struct.pack(
                    ">I4sIII", 20, b"tfhd",
                    _TF_BASE_IS_MOOF | _TF_DFLT_DUR, t,
                    100 + (i + f) % 20,
                )
                trun = struct.pack(
                    ">I4sIIi",
                    20 + 4 * ns, b"trun",
                    _TR_DATA_OFFSET | _TR_SIZE, ns, doff,
                ) + struct.pack(f">{ns}I", *sizes)
            else:
                tfhd = struct.pack(
                    ">I4sII", 16, b"tfhd", _TF_BASE_IS_MOOF, t
                )
                trun = struct.pack(
                    ">I4sIIi",
                    20 + 4 * ns, b"trun",
                    _TR_DATA_OFFSET | _TR_DUR, ns, doff,
                ) + struct.pack(f">{ns}I", *durs)
            tfdt = struct.pack(">I4sII", 16, b"tfdt", 0, tfdt_v)
            body = tfhd + tfdt + trun
            return struct.pack(">I4s", 8 + len(body), b"traf") + body

        # moof size is needed for data offsets: compute sizes first
        # (traf byte length is independent of doff's value)
        probe = [
            len(traf_bytes(t, ns, sz, du, mo, 0))
            for t, ns, sz, du, mo in plans
        ]
        moof_size = 8 + len(mfhd) + sum(probe)
        cum = 0
        trafs = b""
        for t, ns, sizes, durs, mode in plans:
            trafs += traf_bytes(
                t, ns, sizes, durs, mode, moof_size + 8 + cum
            )
            cum += sum(sizes)
            track_time[t] += sum(durs)
        moof = struct.pack(">I4s", moof_size, b"moof") + mfhd + trafs
        payload = bytes(
            (i + 31 * f + 7 * p) % 256 for p in range(cum)
        )
        if i % 13 == 0 and f == n_frags - 1:
            payload = payload[:-1]  # mdat one byte short
        mdat = struct.pack(">I4s", 8 + len(payload), b"mdat") + payload
        out += moof + mdat
    return bytes(out)


def synthesize_fmp4_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of fragmented MP4 blobs."""
    return synthesize_blobs(docs, _make_fmp4, blob_meta("mp4"))
