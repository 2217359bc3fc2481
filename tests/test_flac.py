"""FLAC decode from scratch (operators/flac.py): CRC check values,
bit-level roundtrips across every subframe strategy, stereo
decorrelation, the MD5/CRC/books trust chain, fixture stripes."""

from __future__ import annotations

from gmall_flink_210726_spark.operators.flac import (
    _flac_pcm,
    _make_flac_media,
    crc8,
    crc16,
    make_flac,
    read_flac,
)


class TestCrcPins:
    def test_published_check_values(self):
        """poly 0x07 / poly 0x8005 (init 0, unreflected) over
        '123456789' — the published check values."""
        assert crc8(b"123456789") == 0xF4
        assert crc16(b"123456789") == 0xFEE8


class TestRoundtrip:
    def test_all_strategies(self):
        pcm1 = [((21 + 5 * n) % 2001) - 1000 for n in range(700)]
        pcm2 = [((34 + 5 * n) % 2001) - 1000 for n in range(700)]
        kinds = [
            "fixed0", "fixed1", "fixed2", "fixed3", "fixed4",
            "lpc2", "verbatim",
        ]

        def kind_of(f, c):
            return (
                kinds[(f + c) % len(kinds)],
                f % 2,
                (f + c) % 3 == 0,
            )

        blob = make_flac([pcm1, pcm2], 44100, kind_of=kind_of)
        st = read_flac(blob)
        assert st is not None
        assert st["n_samples"] == 700
        assert st["sample_sum"] == sum(pcm1) + sum(pcm2)

    def test_constant_subframe(self):
        blob = make_flac(
            [[42] * 512], 8000,
            kind_of=lambda f, c: ("constant", 0, False),
        )
        st = read_flac(blob)
        assert st is not None and st["sample_sum"] == 42 * 512

    def test_left_side_is_exercised_and_exact(self):
        """Odd stereo frames use left/side; decoded PCM must be
        bit-exact anyway (the MD5 rung would catch any error)."""
        pcm1 = [((3 + 7 * n) % 1001) - 500 for n in range(600)]
        pcm2 = [((9 + 11 * n) % 1001) - 500 for n in range(600)]
        blob = make_flac([pcm1, pcm2], 16000)
        st = read_flac(blob)
        assert st is not None
        assert st["sample_sum"] == sum(pcm1) + sum(pcm2)

    def test_short_last_frame(self):
        pcm = [((5 * n) % 201) - 100 for n in range(257)]
        st = read_flac(make_flac([pcm], 8000))
        assert st is not None and st["n_frames"] == 2


class TestTrustChain:
    def test_fixture_stripes(self):
        for i in (13, 26, 17, 34, 19, 38):
            assert read_flac(_make_flac_media(i)) is None, i

    def test_good_ids_match_formula(self):
        for i in (1, 2, 3, 4, 5):
            st = read_flac(_make_flac_media(i))
            assert st is not None, i
            n = 600 + i % 300
            ch = 1 + i % 2
            assert st["n_samples"] == n
            assert st["sample_sum"] == sum(
                _flac_pcm(i, c, k)
                for c in range(ch)
                for k in range(n)
            )

    def test_crc16_catches_body_flip(self):
        blob = bytearray(_make_flac_media(1))
        blob[-40] ^= 0x10  # inside the last frame's residuals
        assert read_flac(bytes(blob)) is None

    def test_trailing_garbage_refuses(self):
        assert read_flac(_make_flac_media(1) + b"\x00") is None


class TestEncoderRanges:
    def test_long_stream_coded_frame_numbers(self):
        """Frame numbers >= 2048 need a 3-byte coded number; the
        encoder capacity check must agree with the decoder (5n+1
        value bits per n-byte number)."""
        pcm = [((3 * n) % 101) - 50 for n in range(10_000)]
        st = read_flac(make_flac([pcm], 8000, block_size=4))
        assert st is not None and st["n_frames"] == 2500

    def test_coded_number_boundaries(self):
        from gmall_flink_210726_spark.operators.flac import (
            _utf8_number_dec,
            _utf8_number_enc,
        )
        from gmall_flink_210726_spark.operators.wire import MsbReader

        for v in (127, 128, 2047, 2048, 16383, 16384, 65535, 65536,
                  262143, 262144):
            enc = _utf8_number_enc(v)
            assert _utf8_number_dec(MsbReader(enc)) == v, v

    def test_bps_knob_roundtrips(self):
        """Every streamable FLAC sample size, not just 16-bit; the
        frame header's sample-size code must track bps."""
        for bps in (8, 12, 16, 20, 24):
            pcm = [
                ((i * 7) % (1 << (bps - 1))) - (1 << (bps - 2))
                for i in range(300)
            ]
            st = read_flac(
                make_flac([pcm], 16000, bps=bps, block_size=64)
            )
            assert st is not None and st["bps"] == bps, bps
            assert st["n_samples"] == 300

    def test_unsupported_bps_refused(self):
        import pytest

        with pytest.raises(ValueError):
            make_flac([[0] * 10], 8000, bps=17)
