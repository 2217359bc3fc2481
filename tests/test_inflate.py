"""Tests for the hand-written INFLATE (operators/inflate.py): byte-
exact agreement with zlib across compression levels, block types, and
payload shapes; robustness against truncation/tampering; and the
DEFLATE-zip walk's degrade contract."""

from __future__ import annotations

import zlib

import pandas as pd
import pytest

from gmall_flink_210726_spark.operators.inflate import (
    _make_zip_deflate,
    _run_text,
    ZIPD_SCHEMA,
    _walk_zip_deflate,
    inflate,
)
from gmall_flink_210726_spark.operators.multimodal import blob_batch


def _deflate(data: bytes, level: int = 6) -> bytes:
    c = zlib.compressobj(level, zlib.DEFLATED, -15)
    return c.compress(data) + c.flush()


class TestInflateVsZlib:
    def test_all_levels_run_text(self):
        for i in range(15):
            for level in (0, 1, 3, 6, 9):  # 0 = stored blocks
                data = _run_text(i, level, 150 + 97 * i)
                assert inflate(_deflate(data, level)) == data

    def test_incompressible_binary(self):
        for i in range(10):
            data = bytes((i * 31 + k * 97 + (k * k) % 251) % 256
                         for k in range(64 + i * 41))
            assert inflate(_deflate(data, 9)) == data

    def test_empty_and_tiny(self):
        assert inflate(_deflate(b"")) == b""
        assert inflate(_deflate(b"a")) == b"a"
        assert inflate(_deflate(b"abcabcabcabc" * 30)) == b"abcabcabcabc" * 30

    def test_long_backreference_chain(self):
        data = (b"the quick brown fox " * 500)[:7777]
        assert inflate(_deflate(data, 9)) == data

    def test_multi_block_stream(self):
        # Z_FULL_FLUSH forces block boundaries mid-stream
        c = zlib.compressobj(6, zlib.DEFLATED, -15)
        data1, data2 = _run_text(3, 1, 400), _run_text(4, 2, 300)
        raw = (
            c.compress(data1)
            + c.flush(zlib.Z_FULL_FLUSH)
            + c.compress(data2)
            + c.flush()
        )
        assert inflate(raw) == data1 + data2


class TestInflateRobustness:
    def test_truncation_raises_value_error(self):
        raw = _deflate(_run_text(5, 1, 500))
        for cut in range(0, len(raw) - 1, 7):
            with pytest.raises(ValueError):
                inflate(raw[:cut])

    def test_reserved_block_type_rejected(self):
        # bfinal=1, btype=3 (reserved) in the first 3 bits
        with pytest.raises(ValueError):
            inflate(bytes([0b00000111]) + b"\x00" * 8)

    def test_stored_len_nlen_mismatch_rejected(self):
        # bfinal=1 btype=0, then LEN/NLEN that don't complement
        with pytest.raises(ValueError):
            inflate(bytes([0b00000001, 5, 0, 7, 0]) + b"xxxxx")

    def test_distance_past_start_rejected(self):
        # a back-reference before any literal: craft via fixed-huffman
        # stream that zlib would never emit — easiest is bit fuzz: any
        # outcome must be ValueError or bytes, never another exception
        raw = _deflate(b"abcdefgh" * 20, 9)
        for pos in range(len(raw)):
            mut = bytearray(raw)
            mut[pos] ^= 0x55
            try:
                inflate(bytes(mut))
            except ValueError:
                pass  # the contract: ValueError only


class TestZipDeflateWalk:
    def test_agreement_with_fixture_formulas(self):
        for i in (1, 2, 3, 101, 997):
            st = _walk_zip_deflate(_make_zip_deflate(i))
            n = 2 + i % 4
            assert st["n_entries"] == n
            assert st["total_uncompressed"] == sum(
                200 + (i * 41 + 31 * j) % 600 for j in range(n)
            )

    def test_crc_guard_catches_payload_tamper(self):
        blob = bytearray(_make_zip_deflate(3))
        # flip a byte inside the first compressed payload
        name_len = len(b"d_3_0.txt")
        blob[30 + name_len + 4] ^= 0x01
        out = blob_batch(_walk_zip_deflate, ZIPD_SCHEMA, "zip")(
            pd.DataFrame({"media_id": [3], "content": [bytes(blob)]})
        )
        assert out.iloc[0]["format"] == "unknown"

    def test_corrupt_stripe(self):
        assert _walk_zip_deflate(_make_zip_deflate(14)) is None
        assert _walk_zip_deflate(_make_zip_deflate(0)) is None

    def test_stored_only_zip_rejected(self):
        from gmall_flink_210726_spark.operators.zipc import _make_zip

        assert _walk_zip_deflate(_make_zip(2)) is None


class TestGzipWalk:
    def test_agreement_and_stdlib_round_trip(self):
        import gzip as _gz

        from gmall_flink_210726_spark.operators.inflate import (
            _make_gzip_stream,
            _walk_gzip,
        )

        for i in (1, 2, 3, 101, 997):
            blob = _make_gzip_stream(i)
            st = _walk_gzip(blob)
            n = 1 + i % 4
            assert st["n_members"] == n
            assert st["first_name"] == f"rec_{i}_0"
            # stdlib agrees the stream is valid multi-member gzip
            assert len(_gz.decompress(blob)) == st["total_uncompressed"]

    def test_trailer_crc_tamper_detected(self):
        from gmall_flink_210726_spark.operators.inflate import (
            _make_gzip_stream,
            _walk_gzip,
        )

        blob = bytearray(_make_gzip_stream(2))
        blob[-8] ^= 0x01  # CRC of the last member
        assert _walk_gzip(bytes(blob)) is None

    def test_isize_tamper_detected(self):
        from gmall_flink_210726_spark.operators.inflate import (
            _make_gzip_stream,
            _walk_gzip,
        )

        blob = bytearray(_make_gzip_stream(2))
        blob[-1] ^= 0x01  # ISIZE high byte
        assert _walk_gzip(bytes(blob)) is None

    def test_truncation_and_fuzz_never_raise(self):
        from gmall_flink_210726_spark.operators.inflate import (
            GZIP_SCHEMA,
            _make_gzip_stream,
            _walk_gzip,
        )

        blob = _make_gzip_stream(5)
        frames = [blob[:cut] for cut in range(0, len(blob), 11)]
        for pos in range(0, len(blob), 13):
            mut = bytearray(blob)
            mut[pos] ^= 0x10
            frames.append(bytes(mut))
        out = blob_batch(_walk_gzip, GZIP_SCHEMA, "gzip")(
            pd.DataFrame(
                {
                    "media_id": list(range(len(frames))),
                    "content": frames,
                }
            )
        )
        assert set(out["format"]) <= {"gzip", "unknown"}

    def test_corrupt_stripe(self):
        from gmall_flink_210726_spark.operators.inflate import (
            _make_gzip_stream,
            _walk_gzip,
        )

        assert _walk_gzip(_make_gzip_stream(13)) is None
        assert _walk_gzip(_make_gzip_stream(0)) is None


class TestInflateProperties:
    """Hypothesis: for ANY byte payload and compression level, the
    hand inflate must invert zlib's raw deflate byte-exactly."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=120, deadline=None)
    @given(
        payload=st.binary(min_size=0, max_size=4096),
        level=st.integers(min_value=0, max_value=9),
    )
    def test_inflate_inverts_zlib(self, payload, level):
        assert inflate(_deflate(payload, level)) == payload

    @settings(max_examples=60, deadline=None)
    @given(
        chunks=st.lists(
            st.binary(min_size=1, max_size=512), min_size=1, max_size=5
        )
    )
    def test_inflate_handles_flush_boundaries(self, chunks):
        c = zlib.compressobj(6, zlib.DEFLATED, -15)
        raw = b""
        for ch in chunks[:-1]:
            raw += c.compress(ch) + c.flush(zlib.Z_FULL_FLUSH)
        raw += c.compress(chunks[-1]) + c.flush()
        assert inflate(raw) == b"".join(chunks)

    @settings(max_examples=80, deadline=None)
    @given(
        payload=st.binary(min_size=8, max_size=1024),
        pos=st.integers(min_value=0),
        mask=st.integers(min_value=1, max_value=255),
    )
    def test_corrupted_stream_valueerror_only(self, payload, pos, mask):
        raw = bytearray(_deflate(payload, 6))
        raw[pos % len(raw)] ^= mask
        try:
            inflate(bytes(raw))  # any result ok; only ValueError may raise
        except ValueError:
            pass


class TestZlibWrapper:
    def test_roundtrip_vs_stdlib(self):
        import zlib

        from gmall_flink_210726_spark.operators.inflate import (
            zlib_decompress,
        )

        for n in (0, 1, 5, 300, 5000):
            payload = bytes((k * 7 + 3) % 251 for k in range(n))
            blob = zlib.compress(payload, 6)
            assert zlib_decompress(blob) == payload

    def test_bad_header_check_rejected(self):
        import pytest
        import zlib

        from gmall_flink_210726_spark.operators.inflate import (
            zlib_decompress,
        )

        blob = bytearray(zlib.compress(b"abcdef"))
        blob[1] ^= 0x01  # breaks the mod-31 header check
        with pytest.raises(ValueError):
            zlib_decompress(bytes(blob))

    def test_fdict_rejected(self):
        import pytest

        from gmall_flink_210726_spark.operators.inflate import (
            zlib_decompress,
        )

        # CMF 0x78, FLG with FDICT bit set, padded to pass mod-31
        cmf = 0x78
        flg = 0x20
        flg |= (31 - (cmf * 256 + flg) % 31) % 31
        with pytest.raises(ValueError):
            zlib_decompress(bytes([cmf, flg]) + b"\x00" * 8)

    def test_adler_mismatch_rejected(self):
        import pytest
        import zlib

        from gmall_flink_210726_spark.operators.inflate import (
            zlib_decompress,
        )

        blob = bytearray(zlib.compress(b"hello world"))
        blob[-1] ^= 0xFF
        with pytest.raises(ValueError):
            zlib_decompress(bytes(blob))

    def test_trailing_garbage_rejected(self):
        import pytest
        import zlib

        from gmall_flink_210726_spark.operators.inflate import (
            zlib_decompress,
        )

        with pytest.raises(ValueError):
            zlib_decompress(zlib.compress(b"abc") + b"x")
