"""TIFF codec unit tests (pure Python, no Spark): fixture round-trip
vs LCG formulas on both byte orders, corrupt degradation, fuzz error
surface, multi-strip and inline-value coverage."""

from __future__ import annotations

import random
import struct
import time

import pytest

from gmall_flink_210726_spark.operators.tiff import (
    _TIF_BAD,
    _TIF_H,
    _TIF_V,
    _TIF_W,
    _decode_tiff,
    _make_tiff,
)


class TestTIFF:
    def test_round_trip_both_endians(self):
        # even ids little-endian (II), odd big-endian (MM)
        for i in (2, 3, 4, 5, 100, 101):
            assert not _TIF_BAD(i)
            w, h, spp, data = _decode_tiff(_make_tiff(i))
            assert (w, h, spp) == (_TIF_W(i), _TIF_H(i), 3)
            assert data == bytes(
                _TIF_V(i, p, ch) for p in range(w * h) for ch in range(3)
            )

    def test_multi_strip_exercised(self):
        # h >= 3 with RowsPerStrip=2 -> at least two strips
        i = 5  # h = 1 + 5 % 7 = 6 -> 3 strips
        assert _TIF_H(i) >= 3
        w, h, _, data = _decode_tiff(_make_tiff(i))
        assert len(data) == w * h * 3

    def test_corrupt_blobs_raise(self):
        for i in (9, 18, 27):
            assert _TIF_BAD(i)
            with pytest.raises(ValueError):
                _decode_tiff(_make_tiff(i))

    def test_not_a_tiff(self):
        with pytest.raises(ValueError):
            _decode_tiff(b"GIF89a\x00\x00\x00\x00")

    def test_compressed_rejected(self):
        # patch the Compression entry value (tag 259) to 2 (CCITT 1D,
        # genuinely unsupported; 5 = LZW and 32773 = PackBits are
        # real decode paths now)
        blob = bytearray(_make_tiff(2))
        e = "<"
        # scan IFD entries for tag 259 and flip its value
        ifd_off = struct.unpack(e + "I", blob[4:8])[0]
        count = struct.unpack(e + "H", blob[ifd_off : ifd_off + 2])[0]
        for k in range(count):
            pos = ifd_off + 2 + 12 * k
            tag = struct.unpack(e + "H", blob[pos : pos + 2])[0]
            if tag == 259:
                blob[pos + 8 : pos + 10] = struct.pack(e + "H", 2)
        with pytest.raises(ValueError):
            _decode_tiff(bytes(blob))

    def test_fuzz_error_surface(self):
        rng = random.Random(3)
        for i in (2, 3, 10):
            blob = bytearray(_make_tiff(i))
            for _ in range(150):
                bb = bytearray(blob)
                for _ in range(rng.randrange(1, 5)):
                    bb[rng.randrange(len(bb))] = rng.randrange(256)
                try:
                    _decode_tiff(bytes(bb))
                except ValueError:
                    pass
        for _ in range(200):
            junk = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 120)))
            try:
                _decode_tiff(junk)
            except ValueError:
                pass


class TestPackBits:
    def test_encoder_decoder_round_trip_property(self):
        """Randomized round-trip: encode/decode is identity for any
        byte row, including degenerate all-same and no-run rows."""
        from gmall_flink_210726_spark.operators.tiff import (
            _packbits_decode,
            _packbits_encode,
        )

        rng = random.Random(42)
        rows = [
            b"",
            b"\x00",
            b"\xff" * 300,  # forces multiple max-length runs
            bytes(range(256)),  # pure literal, forces 128-byte split
            bytes(rng.randrange(4) for _ in range(257)),
        ] + [
            bytes(rng.choice([7, 7, 7, rng.randrange(256)]) for _ in range(rng.randrange(1, 64)))
            for _ in range(50)
        ]
        for row in rows:
            enc = _packbits_encode(row)
            assert _packbits_decode(enc, len(row)) == row

    def test_packbits_tiff_round_trip_both_endians(self):
        from gmall_flink_210726_spark.operators.tiff import (
            _TPB_BAD,
            _TPB_H,
            _TPB_V,
            _TPB_W,
            _decode_tiff,
            _make_tiff_packbits,
        )

        for i in (1, 2, 3, 4, 100, 101):
            assert not _TPB_BAD(i)
            w, h, spp, data = _decode_tiff(_make_tiff_packbits(i))
            assert (w, h, spp) == (_TPB_W(i), _TPB_H(i), 1)
            assert data == bytes(_TPB_V(i, p) for p in range(w * h))

    def test_packbits_compression_actually_exercised(self):
        """The fixture must emit genuinely compressed strips (repeat
        runs shrink the payload) so the decoder branch is not a
        pass-through."""
        from gmall_flink_210726_spark.operators.tiff import (
            _TPB_H,
            _TPB_V,
            _TPB_W,
            _packbits_encode,
        )

        i = 31  # w=8: rows contain runs of 5
        w, h = _TPB_W(i), _TPB_H(i)
        pix = bytes(_TPB_V(i, p) for p in range(w * h))
        total_enc = sum(
            len(_packbits_encode(pix[r * w : (r + 1) * w])) for r in range(h)
        )
        assert total_enc < len(pix)

    def test_corrupt_packbits_blobs_raise(self):
        from gmall_flink_210726_spark.operators.tiff import (
            _TPB_BAD,
            _decode_tiff,
            _make_tiff_packbits,
        )

        for i in (8, 16, 24):
            assert _TPB_BAD(i)
            with pytest.raises(ValueError):
                _decode_tiff(_make_tiff_packbits(i))

    def test_packbits_fuzz_never_hangs_or_segfaults(self):
        from gmall_flink_210726_spark.operators.tiff import (
            _decode_tiff,
            _make_tiff_packbits,
        )

        rng = random.Random(7)
        base = _make_tiff_packbits(3)
        for _ in range(200):
            blob = bytearray(base)
            for _ in range(rng.randrange(1, 6)):
                blob[rng.randrange(len(blob))] = rng.randrange(256)
            try:
                _decode_tiff(bytes(blob))
            except (ValueError, struct.error, IndexError):
                pass


class TestLZW:
    def test_encoder_decoder_round_trip_property(self):
        from gmall_flink_210726_spark.operators.tiff import (
            _lzw_decode,
            _lzw_encode,
        )

        rng = random.Random(11)
        cases = [
            b"",
            b"a",
            b"aaaaaaaa",  # KwKwK chains
            bytes(rng.randrange(256) for _ in range(5000)),  # 10-bit+
            bytes((i * 7 // 3) % 256 for i in range(20000)),  # 12-bit
            bytes(rng.randrange(4) for _ in range(30000)),  # clear+reset
            b"ababab" * 300,
        ]
        for data in cases:
            assert _lzw_decode(_lzw_encode(data), len(data)) == data

    def test_early_change_boundary_exact(self):
        """The 9->10-bit switch must land exactly where the encoder
        put it: data engineered so the table crosses 511 entries; a
        decoder bumping at 2^w - 1 instead of 2^w - 2 desynchronizes
        and either raises or corrupts — equality pins the boundary."""
        from gmall_flink_210726_spark.operators.tiff import (
            _lzw_decode,
            _lzw_encode,
        )

        # all-distinct pairs: one table entry per 1-2 input bytes,
        # so 600 bytes safely crosses the 511-entry boundary
        data = bytes(range(256)) + bytes(range(255, -1, -1)) + bytes(
            (i * 3 + 1) % 256 for i in range(600)
        )
        assert _lzw_decode(_lzw_encode(data), len(data)) == data

    def test_large_strip_round_trips_in_linear_time(self):
        """The bit accumulators stay bounded: a 256 KB random strip
        round-trips in seconds, where an accumulator that grows with the
        strip makes both directions quadratic."""
        from gmall_flink_210726_spark.operators.tiff import (
            _lzw_decode,
            _lzw_encode,
        )

        data = random.Random(17).randbytes(256 * 1024)
        t0 = time.perf_counter()
        assert _lzw_decode(_lzw_encode(data), len(data)) == data
        assert time.perf_counter() - t0 < 10.0

    def test_lzw_tiff_round_trip_both_endians(self):
        from gmall_flink_210726_spark.operators.tiff import (
            _TLZ_BAD,
            _TLZ_H,
            _TLZ_V,
            _TLZ_W,
            _make_tiff_lzw,
        )

        for i in (2, 3, 10, 11, 58, 59):
            assert not _TLZ_BAD(i)
            w, h, spp, data = _decode_tiff(_make_tiff_lzw(i))
            assert (w, h, spp) == (_TLZ_W(i), _TLZ_H(i), 1)
            assert data == bytes(_TLZ_V(i, p) for p in range(w * h))

    def test_lzw_width_growth_actually_exercised(self):
        """Every healthy fixture strip must push the dictionary past
        511 entries (the whole point of the 16-row strips): re-encode
        the first strip and count table adds."""
        from gmall_flink_210726_spark.operators.tiff import (
            _LZW_ROWS_PER_STRIP,
            _TLZ_V,
            _TLZ_W,
            _lzw_encode,
        )

        i = 59
        w = _TLZ_W(i)
        strip = bytes(_TLZ_V(i, p) for p in range(w * _LZW_ROWS_PER_STRIP))
        # encoded code count ~= table adds; > 253 adds crosses 511
        enc = _lzw_encode(strip)
        assert len(enc) * 8 // 9 > 253

    def test_corrupt_lzw_blobs_raise(self):
        from gmall_flink_210726_spark.operators.tiff import (
            _TLZ_BAD,
            _make_tiff_lzw,
        )

        for i in (12, 24, 36):
            assert _TLZ_BAD(i)
            with pytest.raises(ValueError):
                _decode_tiff(_make_tiff_lzw(i))

    def test_lzw_fuzz_never_hangs_or_segfaults(self):
        from gmall_flink_210726_spark.operators.tiff import _make_tiff_lzw

        rng = random.Random(5)
        blob = bytearray(_make_tiff_lzw(3))
        for _ in range(200):
            bb = bytearray(blob)
            for _ in range(rng.randrange(1, 4)):
                bb[rng.randrange(len(bb))] = rng.randrange(256)
            try:
                _decode_tiff(bytes(bb))
            except (ValueError, struct.error, IndexError, KeyError):
                pass
