"""Robustness tests for the wave-8 decoders: BI_RLE8 BMP and G.711
mu-law WAV. Convention follows tests/test_gif.py — decoders must
discover corruption by PARSING, never by fixture metadata: truncation,
bit flips, and foreign bytes all degrade to format='unknown' (or
survive decode when the flip lands harmlessly), and never raise."""

from __future__ import annotations

import pandas as pd
import pytest

from gmall_flink_210726_spark.operators.audio import (
    ADPCM_SCHEMA,
    ULAW_SCHEMA,
    _adpcm_walk,
    _ulaw_lut,
    _ulaw_walk,
)
from gmall_flink_210726_spark.operators.bmp import BMP_SCHEMA, _bmp_walk, _decode_rle8
from gmall_flink_210726_spark.operators.multimodal import blob_batch

_bmp_batch = blob_batch(_bmp_walk, BMP_SCHEMA, "bmp")
_ulaw_batch = blob_batch(_ulaw_walk, ULAW_SCHEMA, "ulaw")
_adpcm_batch = blob_batch(_adpcm_walk, ADPCM_SCHEMA, "adpcm")


def _bmp_blob(i: int = 5) -> bytes:
    import struct

    w = 16 + i % 9
    h = 4 + i % 5
    pal = bytearray()
    for p in range(256):
        pal += bytes(
            (((7 * p + i) % 256), ((5 * p + 2 * i) % 256), ((3 * p + 3 * i) % 256), 0)
        )
    rle = bytearray()
    for yf in range(h):
        a = 3 + (i + yf) % 5
        rle += bytes((a, (i * 7 + yf) % 256))
        rle += bytes((w - a, (i * 11 + 3 * yf) % 256))
        rle += bytes((0, 0))
    rle += bytes((0, 1))
    off = 14 + 40 + 1024
    return (
        struct.pack("<2sIHHI", b"BM", off + len(rle), 0, 0, off)
        + struct.pack("<iiiHHIIiiII", 40, w, h, 1, 8, 1, len(rle), 0, 0, 256, 0)
        + bytes(pal)
        + bytes(rle)
    )


def _ulaw_blob(i: int = 3) -> bytes:
    import struct

    ch = 1 + i % 2
    n = (24 + i % 40) * ch
    payload = bytes((i * 29 + 11 * k) % 256 for k in range(n))
    return (
        struct.pack("<4sI4s", b"RIFF", 36 + n, b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 7, ch, 8000, 8000 * ch, ch, 8)
        + struct.pack("<4sI", b"data", n)
        + payload
    )


class TestBmpRobustness:
    def test_good_blob_decodes(self):
        out = _bmp_batch(pd.DataFrame({"media_id": [5], "content": [_bmp_blob(5)]}))
        assert out.iloc[0]["format"] == "bmp"
        assert out.iloc[0]["idx_sum"] > 0

    @pytest.mark.parametrize("cut", [2, 13, 53, 500, 1077, 1080])
    def test_truncation_degrades(self, cut):
        out = _bmp_batch(
            pd.DataFrame({"media_id": [5], "content": [_bmp_blob(5)[:cut]]})
        )
        assert out.iloc[0]["format"] == "unknown"

    def test_foreign_bytes_degrade(self):
        for blob in (b"", b"GIF89a123", b"\x89PNG\r\n", bytes(200)):
            out = _bmp_batch(pd.DataFrame({"media_id": [1], "content": [blob]}))
            assert out.iloc[0]["format"] == "unknown"

    def test_bitflips_never_raise(self):
        base = _bmp_blob(7)
        for pos in range(0, len(base), 37):
            mutated = bytearray(base)
            mutated[pos] ^= 0xFF
            out = _bmp_batch(
                pd.DataFrame({"media_id": [7], "content": [bytes(mutated)]})
            )
            assert out.iloc[0]["format"] in ("bmp", "unknown")

    def test_rle_overrun_rejected(self):
        # encoded run longer than the row must fail the grammar, not wrap
        assert _decode_rle8(bytes((255, 9, 0, 1)), 8, 2) is None
        # missing EOB: stream ends mid-grammar
        assert _decode_rle8(bytes((3, 5)), 8, 2) is None

    def test_delta_zero_fill(self):
        # run of 2, delta skip 3, run of 3, EOL, EOB on an 8-wide row
        rows = _decode_rle8(bytes((2, 9, 0, 2, 3, 0, 3, 7, 0, 0, 0, 1)), 8, 1)
        assert rows == [[9, 9, 0, 0, 0, 7, 7, 7]]

    def test_absolute_mode_word_padding(self):
        # absolute run of 3 is padded to 4 bytes; following run must align
        data = bytes((0, 3, 11, 12, 13, 0, 5, 4, 0, 0, 0, 1))
        rows = _decode_rle8(data, 8, 1)
        assert rows == [[11, 12, 13, 4, 4, 4, 4, 4]]


class TestUlawRobustness:
    def test_good_blob_decodes(self):
        out = _ulaw_batch(pd.DataFrame({"media_id": [3], "content": [_ulaw_blob(3)]}))
        r = out.iloc[0]
        assert r["format"] == "ulaw" and r["n_samples"] > 0 and r["max_abs"] <= 32124

    def test_pcm_wav_rejected(self):
        """A linear-PCM WAV (fmt tag 1) must NOT be mu-law expanded."""
        import struct

        payload = bytes(range(48))
        blob = (
            struct.pack("<4sI4s", b"RIFF", 36 + 48, b"WAVE")
            + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 16000, 2, 16)
            + struct.pack("<4sI", b"data", 48)
            + payload
        )
        out = _ulaw_batch(pd.DataFrame({"media_id": [1], "content": [blob]}))
        assert out.iloc[0]["format"] == "unknown"

    @pytest.mark.parametrize("cut", [0, 10, 30, 43])
    def test_truncation_degrades(self, cut):
        out = _ulaw_batch(
            pd.DataFrame({"media_id": [3], "content": [_ulaw_blob(3)[:cut]]})
        )
        assert out.iloc[0]["format"] == "unknown"

    def test_bitflips_never_raise(self):
        base = _ulaw_blob(9)
        for pos in range(0, len(base), 11):
            mutated = bytearray(base)
            mutated[pos] ^= 0x55
            out = _ulaw_batch(
                pd.DataFrame({"media_id": [9], "content": [bytes(mutated)]})
            )
            assert out.iloc[0]["format"] in ("ulaw", "unknown")

    def test_lut_is_g711(self):
        """Spot values from the ITU-T G.711 expansion: peak +-32124 at
        bytes 0x80/0x00; both zero codes (0x7F, 0xFF) decode to 0;
        monotone decreasing magnitude within a sign's segment walk."""
        lut = _ulaw_lut()
        assert lut[0x00] == -32124 and lut[0x80] == 32124
        assert lut[0x7F] == 0 and lut[0xFF] == 0
        # segment boundary: byte 0x0F (u=0xF0: seg 7, mantissa 0)
        # -> t = 132 << 7 = 16896, val = 132 - 16896 = -16764
        assert lut[0x0F] == -16764
        neg = lut[:128]
        assert all(neg[i] <= neg[i + 1] for i in range(127))


def _adpcm_blob(i: int = 4) -> bytes:
    import struct

    pred0 = ((i * 37) % 4096) - 2048
    idx0 = (i * 5) % 89
    nb = 20 + i % 12
    nibs = [(i * 13 + 7 * k) % 16 for k in range(2 * nb)]
    data = struct.pack("<hBB", pred0, idx0, 0) + bytes(
        nibs[2 * j] | (nibs[2 * j + 1] << 4) for j in range(nb)
    )
    balign = 4 + nb
    spb = 1 + 2 * nb
    return (
        struct.pack("<4sI4s", b"RIFF", 40 + len(data), b"WAVE")
        + struct.pack(
            "<4sIHHIIHHHH", b"fmt ", 20, 0x11, 1, 8000,
            8000 * balign // spb, balign, 4, 2, spb,
        )
        + struct.pack("<4sI", b"data", len(data))
        + data
    )


class TestAdpcmRobustness:
    def test_good_blob_decodes(self):
        out = _adpcm_batch(
            pd.DataFrame({"media_id": [4], "content": [_adpcm_blob(4)]})
        )
        r = out.iloc[0]
        assert r["format"] == "adpcm"
        assert abs(r["final_pred"]) <= 32767 and 0 <= r["final_idx"] <= 88

    def test_multi_block_state_resets(self):
        """Two concatenated blocks: the second block's header predictor
        RESTARTS the state (per spec); stats must cover both blocks."""
        import struct

        from gmall_flink_210726_spark.operators.audio import _adpcm_decode_block

        nb = 6
        blk = struct.pack("<hBB", 1000, 10, 0) + bytes(range(nb))
        blk2 = struct.pack("<hBB", -500, 40, 0) + bytes(range(nb))
        data = blk + blk2
        balign = 4 + nb
        spb = 1 + 2 * nb
        blob = (
            struct.pack("<4sI4s", b"RIFF", 40 + len(data), b"WAVE")
            + struct.pack(
                "<4sIHHIIHHHH", b"fmt ", 20, 0x11, 1, 8000,
                8000 * balign // spb, balign, 4, 2, spb,
            )
            + struct.pack("<4sI", b"data", len(data))
            + data
        )
        out = _adpcm_batch(pd.DataFrame({"media_id": [1], "content": [blob]}))
        r = out.iloc[0]
        assert r["format"] == "adpcm"
        assert r["n_samples"] == 2 * spb
        # reference: decode both blocks independently
        s: list[int] = []
        _adpcm_decode_block(blob, len(blob) - len(data), nb, s)
        idx = _adpcm_decode_block(blob, len(blob) - len(data) + balign, nb, s)
        assert r["abs_sum"] == sum(abs(x) for x in s)
        assert r["final_idx"] == idx

    @pytest.mark.parametrize("cut", [0, 12, 30, 45])
    def test_truncation_degrades(self, cut):
        out = _adpcm_batch(
            pd.DataFrame({"media_id": [4], "content": [_adpcm_blob(4)[:cut]]})
        )
        assert out.iloc[0]["format"] == "unknown"

    def test_pcm_and_ulaw_rejected(self):
        out = _adpcm_batch(
            pd.DataFrame({"media_id": [3], "content": [_ulaw_blob(3)]})
        )
        assert out.iloc[0]["format"] == "unknown"

    def test_bitflips_never_raise(self):
        base = _adpcm_blob(7)
        for pos in range(0, len(base), 9):
            mutated = bytearray(base)
            mutated[pos] ^= 0xA5
            out = _adpcm_batch(
                pd.DataFrame({"media_id": [7], "content": [bytes(mutated)]})
            )
            r = out.iloc[0]
            assert r["format"] in ("adpcm", "unknown")
            if r["format"] == "adpcm":
                assert abs(r["final_pred"]) <= 32767
