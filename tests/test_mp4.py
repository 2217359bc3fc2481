"""Robustness tests for the MP4/ISO-BMFF box-walk decoder
(operators/mp4.py). Convention follows tests/test_bmp_ulaw.py —
the decoder must discover corruption by PARSING, never by fixture
metadata: truncation, bit flips, zero/oversize box sizes, foreign
bytes, and pathological nesting all degrade to format='unknown' and
never raise."""

from __future__ import annotations

import struct

import pandas as pd

from gmall_flink_210726_spark.operators.mp4 import (
    _IDENTITY_MATRIX,
    MP4_SCHEMA,
    _mp4_stats,
    _walk,
)
from gmall_flink_210726_spark.operators.multimodal import blob_batch


def _mp4_blob(i: int = 5) -> bytes:
    """Inline twin of synthesize_mp4_media's make() — kept separate so
    a fixture bug can't hide a decoder bug (and vice versa)."""
    brand = (b"isom", b"mp42", b"avc1")[i % 3]
    timescale = 1000 * (1 + i % 4)
    duration = 500 + i % 1000
    n_tracks = 1 + i % 3
    n = 64 + i % 128
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
    moov = struct.pack(">I4s", 8 + len(mvhd) + len(traks), b"moov") + mvhd + traks
    payload = bytes((i * 17 + 11 * j) % 256 for j in range(n))
    mdat = struct.pack(">I4s", 8 + n, b"mdat") + payload
    return ftyp + moov + mdat


def _decode(blob: bytes) -> pd.Series:
    decode = blob_batch(_mp4_stats, MP4_SCHEMA, "mp4")
    out = decode(pd.DataFrame({"media_id": [1], "content": [blob]}))
    return out.iloc[0]


class TestMp4Decode:
    def test_good_blob_decodes(self):
        for i in (0, 1, 2, 3, 7, 100):
            row = _decode(_mp4_blob(i))
            assert row["format"] == "mp4"
            assert row["brand"] == ("isom", "mp42", "avc1")[i % 3]
            assert row["timescale"] == 1000 * (1 + i % 4)
            assert row["duration_ms"] == (500 + i % 1000) * 1000 // (
                1000 * (1 + i % 4)
            )
            assert row["n_tracks"] == 1 + i % 3
            # ftyp + moov + mvhd + mdat + (trak + tkhd) per track
            assert row["n_boxes"] == 4 + 2 * (1 + i % 3)
            assert row["mdat_bytes"] == 64 + i % 128
            assert row["payload_sum"] == sum(
                (i * 17 + 11 * j) % 256 for j in range(64 + i % 128)
            )

    def test_ftyp_declared_size_matches_payload(self):
        # the round-7 regression: declared 24 must mean 24 actual bytes
        blob = _mp4_blob(4)
        size, btype = struct.unpack_from(">I4s", blob, 0)
        assert btype == b"ftyp"
        assert size == 24
        nxt = struct.unpack_from(">4s", blob, size + 4)[0]
        assert nxt == b"moov"


class TestMp4Robustness:
    def test_truncation_every_cut_never_raises(self):
        blob = _mp4_blob(9)
        full = _decode(blob)
        assert full["format"] == "mp4"
        for cut in range(0, len(blob), 7):
            row = _decode(blob[:cut])
            assert row["format"] == "unknown"

    def test_bit_flips_never_raise(self):
        blob = _mp4_blob(11)
        for pos in range(0, len(blob), 13):
            mut = bytearray(blob)
            mut[pos] ^= 0x80
            row = _decode(bytes(mut))  # must not raise
            assert row["format"] in ("mp4", "unknown")

    def test_zero_size_box_degrades(self):
        blob = bytearray(_mp4_blob(2))
        struct.pack_into(">I", blob, 0, 0)  # ftyp size := 0
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_oversize_box_degrades(self):
        blob = bytearray(_mp4_blob(2))
        struct.pack_into(">I", blob, 0, len(blob) + 100)
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_foreign_bytes_degrade(self):
        assert _decode(b"not an mp4 at all, just text" * 4)["format"] == "unknown"
        assert _decode(b"")["format"] == "unknown"
        assert _decode(None)["format"] == "unknown"

    def test_trailing_garbage_degrades(self):
        # walk must consume EXACTLY to end: 5 stray bytes -> unknown
        assert _decode(_mp4_blob(3) + b"\x00" * 5)["format"] == "unknown"

    def test_missing_mvhd_degrades(self):
        # moov holding only traks: timescale stays 0 -> unknown
        ftyp = struct.pack(">I4s4sI4s4s", 24, b"ftyp", b"isom", 0, b"isom", b"isom")
        tkhd = struct.pack(">I4s", 16, b"tkhd") + b"\x00" * 8
        trak = struct.pack(">I4s", 8 + len(tkhd), b"trak") + tkhd
        moov = struct.pack(">I4s", 8 + len(trak), b"moov") + trak
        assert _decode(ftyp + moov)["format"] == "unknown"

    def test_nested_box_bomb_depth_capped(self):
        # 500 nested moov headers: the depth cap must degrade, not
        # blow the stack (ADVICE r7 #2)
        depth = 500
        blob = b""
        for d in range(depth):
            inner = 8 * (depth - d)
            blob += struct.pack(">I4s", inner, b"moov")
        st = {
            "brand": None,
            "timescale": 0,
            "duration": 0,
            "n_tracks": 0,
            "n_boxes": 0,
            "mdat_bytes": 0,
            "payload_sum": 0,
        }
        assert _walk(blob, 0, len(blob), st) is False
        assert _decode(blob)["format"] == "unknown"

    def test_corrupt_stripe_of_fixture(self):
        # synthesize_mp4_media truncates every 13th id at byte 30
        assert _decode(_mp4_blob(13)[:30])["format"] == "unknown"


def _stbl_blob(i: int = 5) -> bytes:
    """Inline twin of synthesize_mp4_sampletables' make()."""
    brand = (b"isom", b"mp42", b"avc1")[i % 3]
    n_tracks = 1 + i % 3
    ftyp = struct.pack(">I4s4sI4s4s", 24, b"ftyp", brand, 0, b"isom", brand)
    traks = b""
    for t in range(n_tracks):
        tkhd = struct.pack(">I4sIII", 24, b"tkhd", 0, 0, 0) + struct.pack(
            ">I", t + 1
        )
        codec = (b"avc1", b"mp4a", b"hvc1")[(i + t) % 3]
        entry = struct.pack(">I4s", 16, codec) + b"\x00" * 8
        stsd = struct.pack(">I4sII", 32, b"stsd", 0, 1) + entry
        n_s = 8 + (i + 3 * t) % 13
        a = 1 + (i + t) % 4
        d1 = 100 + (i * 7 + t) % 50
        d2 = 200 + (i * 11 + 3 * t) % 60
        stts = struct.pack(">I4sIIIIII", 32, b"stts", 0, 2, a, d1, n_s - a, d2)
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
    return ftyp + moov


def _decode_samples(blob: bytes) -> pd.DataFrame:
    from gmall_flink_210726_spark.operators.mp4 import _samples_batch

    return _samples_batch(pd.DataFrame({"media_id": [7], "content": [blob]}))


class TestMp4SampleTables:
    def test_good_blob_per_track_rows(self):
        for i in (1, 2, 3, 12, 100):
            out = _decode_samples(_stbl_blob(i))
            assert len(out) == 1 + i % 3
            for _, r in out.iterrows():
                t = int(r["track_id"]) - 1
                n_s = 8 + (i + 3 * t) % 13
                a = 1 + (i + t) % 4
                d1 = 100 + (i * 7 + t) % 50
                d2 = 200 + (i * 11 + 3 * t) % 60
                assert r["codec"] == ("avc1", "mp4a", "hvc1")[(i + t) % 3]
                assert r["n_samples"] == n_s
                assert r["duration_ticks"] == a * d1 + (n_s - a) * d2
                assert r["total_bytes"] == sum(
                    50 + (i * 13 + 7 * t + 29 * j) % 100 for j in range(n_s)
                )
                assert r["n_chunks"] == 1 + (i + t) % 3
                assert r["first_offset"] == 1000 * (t + 1) + i % 97

    def test_truncation_every_cut_degrades(self):
        blob = _stbl_blob(4)
        for cut in range(0, len(blob), 11):
            out = _decode_samples(blob[:cut])
            assert len(out) == 1
            assert out.iloc[0]["codec"] == "unknown"

    def test_bit_flips_never_raise(self):
        blob = _stbl_blob(6)
        for pos in range(0, len(blob), 17):
            mut = bytearray(blob)
            mut[pos] ^= 0x40
            out = _decode_samples(bytes(mut))  # must not raise
            assert len(out) >= 1

    def test_stsz_stts_count_mismatch_degrades(self):
        # corrupt the stts first-run count: the stsz cross-check must
        # reject the whole blob, not emit a half-right track
        blob = _stbl_blob(2)
        idx = blob.index(b"stts")
        mut = bytearray(blob)
        struct.pack_into(">I", mut, idx + 12, 99)  # first run count
        out = _decode_samples(bytes(mut))
        assert len(out) == 1
        assert out.iloc[0]["codec"] == "unknown"

    def test_fixed_size_stsz_rejected(self):
        # decoder only supports the per-sample table form (fixed==0)
        blob = _stbl_blob(2)
        idx = blob.index(b"stsz")
        mut = bytearray(blob)
        struct.pack_into(">I", mut, idx + 8, 100)  # fixed sample size
        assert _decode_samples(bytes(mut)).iloc[0]["codec"] == "unknown"

    def test_foreign_and_empty_degrade(self):
        assert _decode_samples(b"")["codec"].iloc[0] == "unknown"
        assert _decode_samples(b"garbage" * 10)["codec"].iloc[0] == "unknown"


class TestFragments:
    def test_model(self):
        from gmall_flink_210726_spark.operators.mp4 import (
            _fmp4_ns,
            _make_fmp4,
            read_mp4_fragments,
        )

        for i in (1, 2, 3, 4, 5, 6):
            st = read_mp4_fragments(_make_fmp4(i))
            assert st is not None, i
            assert st["n_tracks"] == 1 + i % 2
            assert st["n_fragments"] == 2 + i % 4
            want = sum(
                _fmp4_ns(i, f, t)
                for f in range(2 + i % 4)
                for t in range(1, 2 + i % 2)
            )
            assert st["n_samples"] == want, i

    def test_degrades(self):
        """mdat short (trun/mdat disagreement), sequence gap, and
        tfdt decode-time lie all degrade."""
        from gmall_flink_210726_spark.operators.mp4 import (
            _make_fmp4,
            read_mp4_fragments,
        )

        for i in (13, 26, 17, 34, 19, 38):
            assert read_mp4_fragments(_make_fmp4(i)) is None, i

    def test_orphan_mdat_refuses(self):
        import struct

        from gmall_flink_210726_spark.operators.mp4 import (
            _make_fmp4,
            read_mp4_fragments,
        )

        blob = _make_fmp4(1) + struct.pack(">I4s", 12, b"mdat") + b"xxxx"
        assert read_mp4_fragments(blob) is None

    def test_all_default_levels_exercised(self):
        """The fixture routes sizes through trun AND trex, durations
        through tfhd AND trun — prove both branches appear."""
        from gmall_flink_210726_spark.operators.mp4 import _make_fmp4

        blob = _make_fmp4(2)  # 2 tracks: (f+t) parity hits both
        assert blob.count(b"trun") >= 2
        assert b"trex" in blob and b"tfdt" in blob
