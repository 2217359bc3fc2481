"""Robustness tests for the MP3 frame-walk decoder (operators/mp3.py).
Convention follows tests/test_mp4.py — corruption is discovered by
PARSING: truncation, sync loss, reserved indices, sample-rate changes
mid-stream, and trailing garbage all degrade to format='unknown' and
never raise."""

from __future__ import annotations

import struct

import pandas as pd

from gmall_flink_210726_spark.operators.mp3 import (
    _BITRATES,
    MP3_SCHEMA,
    _walk_frames,
)
from gmall_flink_210726_spark.operators.multimodal import blob_batch


def _mp3_blob(i: int = 5) -> bytes:
    """Inline twin of synthesize_mp3_media's make()."""
    parts = []
    for j in range(6 + i % 10):
        bidx = 1 + (i * 5 + j) % 14
        pad = (i + j) % 2
        flen = 144000 * _BITRATES[bidx] // 44100 + pad
        hdr = struct.pack(">BBBB", 0xFF, 0xFB, (bidx << 4) | (pad << 1), 0xC0)
        parts.append(hdr + bytes((i * 31 + 7 * j + 3 * k) % 256
                                 for k in range(flen - 4)))
    return b"".join(parts)


def _decode(blob: bytes) -> pd.Series:
    return blob_batch(_walk_frames, MP3_SCHEMA, "mp3")(
        pd.DataFrame({"media_id": [1], "content": [blob]})
    ).iloc[0]


class TestMp3Decode:
    def test_good_blob_decodes(self):
        for i in (1, 2, 5, 100, 997):
            row = _decode(_mp3_blob(i))
            n = 6 + i % 10
            assert row["format"] == "mp3"
            assert row["n_frames"] == n
            assert row["duration_ms"] == n * 1152 * 1000 // 44100
            assert row["kbps_sum"] == sum(
                _BITRATES[1 + (i * 5 + j) % 14] for j in range(n)
            )
            assert row["pad_frames"] == sum((i + j) % 2 for j in range(n))
            assert row["total_bytes"] == sum(
                144000 * _BITRATES[1 + (i * 5 + j) % 14] // 44100
                + (i + j) % 2
                for j in range(n)
            )


class TestMp3Robustness:
    def test_truncation_every_cut_degrades(self):
        blob = _mp3_blob(3)
        for cut in range(0, len(blob), 37):
            assert _decode(blob[:cut])["format"] == "unknown"

    def test_bit_flips_never_raise(self):
        blob = _mp3_blob(7)
        for pos in range(0, len(blob), 41):
            mut = bytearray(blob)
            mut[pos] ^= 0x10
            row = _decode(bytes(mut))  # must not raise
            assert row["format"] in ("mp3", "unknown")

    def test_sync_loss_degrades(self):
        blob = bytearray(_mp3_blob(2))
        blob[0] = 0x00
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_reserved_bitrate_index_degrades(self):
        blob = bytearray(_mp3_blob(2))
        blob[2] = (15 << 4) | (blob[2] & 0x0F)  # bitrate idx 15 = bad
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_free_format_degrades(self):
        blob = bytearray(_mp3_blob(2))
        blob[2] = blob[2] & 0x0F  # bitrate idx 0 = free format
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_sample_rate_change_mid_stream_degrades(self):
        # flip the second frame's sample-rate index to 48 kHz
        blob = _mp3_blob(2)
        bidx0 = 1 + (2 * 5 + 0) % 14
        flen0 = 144000 * _BITRATES[bidx0] // 44100 + (2 + 0) % 2
        mut = bytearray(blob)
        mut[flen0 + 2] |= 0x4  # sridx 0 -> 1
        assert _decode(bytes(mut))["format"] == "unknown"

    def test_mpeg2_version_degrades(self):
        blob = bytearray(_mp3_blob(2))
        blob[1] = 0xF3  # version bits 10 = MPEG-2
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_layer_mismatch_degrades(self):
        blob = bytearray(_mp3_blob(2))
        blob[1] = 0xFD  # layer bits 10 = Layer II
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_trailing_garbage_degrades(self):
        assert _decode(_mp3_blob(4) + b"\x00\x01\x02")["format"] == "unknown"

    def test_foreign_and_empty_degrade(self):
        assert _decode(b"")["format"] == "unknown"
        assert _decode(None)["format"] == "unknown"
        assert _decode(b"ID3\x03\x00 not audio" * 3)["format"] == "unknown"
        assert _walk_frames(b"\xff\xfb") is None

    def test_corrupt_stripe_of_fixture(self):
        blob = _mp3_blob(9)
        assert _decode(blob[: len(blob) - 40])["format"] == "unknown"


def _id3_decode(blob: bytes) -> pd.Series:
    from gmall_flink_210726_spark.operators.mp3 import ID3_SCHEMA, _parse_id3_mp3

    return blob_batch(_parse_id3_mp3, ID3_SCHEMA, "mp3")(
        pd.DataFrame({"media_id": [1], "content": [blob]})
    ).iloc[0]


class TestId3Robustness:
    def test_good_blob_decodes(self):
        from gmall_flink_210726_spark.operators.mp3 import _make_id3_mp3

        for i in (1, 2, 3, 100, 999):
            row = _id3_decode(_make_id3_mp3(i))
            assert row["format"] == "mp3"
            assert row["title"] == f"track {i % 100}é"
            assert row["artist"] == f"artist {i % 10}"
            assert row["track"] == 1 + i % 12
            assert row["n_tags"] == 3
            assert row["n_frames"] == 3 + i % 5

    def test_truncation_every_cut_degrades(self):
        from gmall_flink_210726_spark.operators.mp3 import _make_id3_mp3

        blob = _make_id3_mp3(2)
        # frame boundaries: a cut landing exactly there IS a valid
        # (shorter) file — the decoder must accept it with fewer
        # frames; every other cut must degrade
        tag_bytes, flen = 64, 144000 * 128 // 44100  # +1: 'é' in TIT2
        boundaries = {tag_bytes + k * flen for k in range(1, 6)}
        for cut in range(0, len(blob), 13):
            row = _id3_decode(blob[:cut])
            if cut in boundaries:
                assert row["format"] == "mp3"
                assert row["n_frames"] == (cut - tag_bytes) // flen
            else:
                assert row["format"] == "unknown", cut

    def test_bit_flips_never_raise(self):
        from gmall_flink_210726_spark.operators.mp3 import _make_id3_mp3

        blob = _make_id3_mp3(3)
        for pos in range(0, len(blob), 19):
            mut = bytearray(blob)
            mut[pos] ^= 0x08
            row = _id3_decode(bytes(mut))  # must not raise
            assert row["format"] in ("mp3", "unknown")

    def test_non_syncsafe_size_rejected(self):
        from gmall_flink_210726_spark.operators.mp3 import _make_id3_mp3

        blob = bytearray(_make_id3_mp3(2))
        blob[6] |= 0x80  # high bit set in a syncsafe byte
        assert _id3_decode(bytes(blob))["format"] == "unknown"

    def test_id3v4_rejected(self):
        from gmall_flink_210726_spark.operators.mp3 import _make_id3_mp3

        blob = bytearray(_make_id3_mp3(2))
        blob[3] = 4  # v2.4: unsupported by this v2.3 parser
        assert _id3_decode(bytes(blob))["format"] == "unknown"

    def test_nonzero_padding_rejected(self):
        from gmall_flink_210726_spark.operators.mp3 import _make_id3_mp3

        blob = bytearray(_make_id3_mp3(3))  # i=3 -> 5 padding bytes
        # last padding byte sits right before the first audio frame
        idx = blob.index(b"\xff\xfb")
        blob[idx - 1] = 0x07
        assert _id3_decode(bytes(blob))["format"] == "unknown"

    def test_bare_mp3_without_id3_rejected(self):
        assert _id3_decode(_mp3_blob(2))["format"] == "unknown"

    def test_foreign_and_empty_degrade(self):
        assert _id3_decode(b"")["format"] == "unknown"
        assert _id3_decode(b"ID3")["format"] == "unknown"
        assert _id3_decode(None)["format"] == "unknown"

    def test_corrupt_stripe_of_fixture(self):
        from gmall_flink_210726_spark.operators.mp3 import (
            _make_id3_mp3,
            _parse_id3_mp3,
        )

        assert _parse_id3_mp3(_make_id3_mp3(8)) is None
        assert _parse_id3_mp3(_make_id3_mp3(0)) is None


class TestId3Encodings:
    def test_utf16_and_latin1_titles(self):
        from gmall_flink_210726_spark.operators.mp3 import (
            _make_id3_mp3,
            _parse_id3_mp3,
        )

        for i in (1, 2, 3, 4):  # odd = UTF-16 with BOM, even = latin-1
            st = _parse_id3_mp3(_make_id3_mp3(i))
            assert st is not None
            assert st["title"] == f"track {i % 100}é", i

    def test_v24_encodings_refuse_in_v23(self):
        from gmall_flink_210726_spark.operators.mp3 import _id3_text

        assert _id3_text(b"\x03abc") is None  # UTF-8 is v2.4-only
        assert _id3_text(b"\x02\x00a") is None  # UTF-16BE v2.4-only

    def test_utf16_without_bom_refuses(self):
        from gmall_flink_210726_spark.operators.mp3 import _id3_text

        assert _id3_text(b"\x01a\x00b\x00") is None
