"""Round-14 optimization: the C-backed codec fast paths must agree with
their from-spec Python twins — on valid streams byte-exactly, and on
corrupted streams in OUTCOME (both decode to the same bytes or both
raise ValueError; which layer catches a given corruption may differ,
the walk-level degrade decision may not)."""

from __future__ import annotations

import random
import zlib

import pytest

from gmall_flink_210726_spark.operators.inflate import (
    _inflate_at,
    _inflate_at_py,
    _run_text,
    inflate,
)
from gmall_flink_210726_spark.operators.parquetmeta import (
    _snappy_decompress_py,
    snappy_decompress,
)


def _deflate(data: bytes, level: int = 6) -> bytes:
    c = zlib.compressobj(level, zlib.DEFLATED, -15)
    return c.compress(data) + c.flush()


class TestInflateFastPath:
    def test_valid_streams_agree_with_py_twin(self):
        for i in range(12):
            payload = _run_text(i, i % 5, 150 + 211 * i)
            for level in (0, 1, 6, 9):
                raw = _deflate(payload, level)
                assert _inflate_at(raw, 0) == _inflate_at_py(raw, 0)
                # offset + trailing garbage: same resume position
                blob = b"\xaa\xbb" + raw + b"tail"
                assert _inflate_at(blob, 2) == _inflate_at_py(blob, 2)

    def test_corrupt_streams_same_outcome(self):
        rng = random.Random(14)
        raw = _deflate(_run_text(3, 1, 900), 6)
        for _ in range(400):
            mut = bytearray(raw)
            mut[rng.randrange(len(mut))] ^= 1 << rng.randrange(8)
            mut = bytes(mut)
            try:
                a = _inflate_at_py(mut, 0)
            except ValueError:
                a = "VE"
            try:
                b = _inflate_at(mut, 0)
            except ValueError:
                b = "VE"
            assert a == b

    def test_truncation_raises(self):
        raw = _deflate(_run_text(5, 2, 500))
        for cut in range(0, len(raw) - 1, 5):
            with pytest.raises(ValueError):
                _inflate_at(raw[:cut], 0)

    def test_bomb_guard_preserved(self):
        # 64 MiB of zeros deflates tiny but exceeds the 16 MiB guard
        with pytest.raises(ValueError):
            inflate(_deflate(b"\x00" * (1 << 26), 9))


class TestSnappyFastPath:
    def test_valid_blocks_agree_with_py_twin(self):
        import pyarrow as pa

        codec = pa.Codec("snappy")
        for i in range(12):
            payload = _run_text(i, i % 4, 100 + 173 * i)
            block = bytes(codec.compress(payload))
            assert snappy_decompress(block) == payload
            assert _snappy_decompress_py(block) == payload

    def test_corrupt_blocks_same_outcome(self):
        import pyarrow as pa

        rng = random.Random(7)
        block = bytes(pa.Codec("snappy").compress(_run_text(2, 1, 800)))
        for _ in range(400):
            mut = bytearray(block)
            mut[rng.randrange(len(mut))] ^= 1 << rng.randrange(8)
            mut = bytes(mut)
            try:
                a = _snappy_decompress_py(mut)
            except ValueError:
                a = "VE"
            try:
                b = snappy_decompress(mut)
            except ValueError:
                b = "VE"
            assert a == b


class TestRleV2Vectorized:
    def _harvest(self):
        """Capture every RLEv2 stream the ORC fixture walks decode."""
        import gmall_flink_210726_spark.operators.orc as orc_mod
        import gmall_flink_210726_spark.operators.orc2 as orc2_mod

        captured = []
        orig = orc_mod._rle_v2

        def spy(data, n, signed, runs=None):
            captured.append((bytes(data), n, signed))
            return orig(data, n, signed, runs)

        # orc2 binds the name at import time — patch both modules
        orc_mod._rle_v2 = spy
        orc2_mod._rle_v2 = spy
        try:
            from gmall_flink_210726_spark.operators.orc2 import (
                _make_orc_dec,
                _make_orc_double,
                _make_orc_rowindex,
                _rowindex_params,
                read_orc_dec_ts,
                read_orc_double_bin,
                read_orc_rowindex,
            )

            for i in range(8):
                read_orc_dec_ts(_make_orc_dec(i))
                lo, hi, _ = _rowindex_params(i)
                read_orc_rowindex(_make_orc_rowindex(i), lo, hi)
                read_orc_double_bin(_make_orc_double(i))
        finally:
            orc_mod._rle_v2 = orig
            orc2_mod._rle_v2 = orig
        return captured

    def test_agrees_with_py_twin_on_real_streams(self):
        from gmall_flink_210726_spark.operators.orc import (
            _rle_v2,
            _rle_v2_py,
        )

        streams = self._harvest()
        assert streams  # the spy must have seen the fixture walks
        for data, n, signed in streams:
            runs_a: list = []
            runs_b: list = []
            assert _rle_v2(data, n, signed, runs_a) == _rle_v2_py(
                data, n, signed, runs_b
            )
            assert runs_a == runs_b

    def test_corrupt_streams_same_outcome(self):
        from gmall_flink_210726_spark.operators.orc import (
            _rle_v2,
            _rle_v2_py,
        )

        rng = random.Random(21)
        for data, n, signed in self._harvest()[:60]:
            for _ in range(4):
                mut = bytearray(data)
                mut[rng.randrange(len(mut))] ^= 1 << rng.randrange(8)
                mut = bytes(mut)
                try:
                    a = _rle_v2(mut, n, signed)
                except ValueError:
                    a = "VE"
                try:
                    b = _rle_v2_py(mut, n, signed)
                except ValueError:
                    b = "VE"
                assert a == b

    def test_svarints_agrees_with_scalar(self):
        from gmall_flink_210726_spark.operators.orc import (
            _svarint,
            _svarints,
        )

        rng = random.Random(5)
        for _ in range(200)  :
            vals = [
                rng.randrange(-(1 << 45), 1 << 45)
                for _ in range(rng.randrange(1, 60))
            ]
            body = bytearray()
            for v in vals:
                u = ((v << 1) ^ (v >> 63)) & ((1 << 64) - 1)
                while u >= 0x80:
                    body.append((u & 0x7F) | 0x80)
                    u >>= 7
                body.append(u)
            body = bytes(body)
            ref, pos = [], 0
            for _ in range(len(vals)):
                v, pos = _svarint(body, pos)
                ref.append(v)
            assert _svarints(body, len(vals)) == (ref, pos)
        with pytest.raises(ValueError):
            _svarints(b"\x80\x80", 1)


class TestOrcSynthesisVectorized:
    def test_make_orc_dec_byte_identical_to_list_construction(self):
        import decimal
        import io

        import pyarrow as pa
        import pyarrow.orc as orc_mod

        from gmall_flink_210726_spark.operators.orc2 import (
            _dec_ts_rows,
            _make_orc_dec,
        )

        for i in (1, 2, 3, 4, 5, 9, 24, 101):  # spans all five codecs
            n = 1500 + (i % 4) * 400
            mants, secs, nanos = _dec_ts_rows(i, n)
            dec = [decimal.Decimal(m).scaleb(-2) for m in mants]
            ts = [s * 10**9 + ns for s, ns in zip(secs, nanos)]
            comp = ("uncompressed", "zlib", "snappy", "zstd", "lz4")[i % 5]
            buf = io.BytesIO()
            orc_mod.write_table(
                pa.table(
                    {
                        "d": pa.array(dec, pa.decimal128(12, 2)),
                        "t": pa.array(ts, pa.timestamp("ns")),
                    }
                ),
                buf,
                compression=comp,
                stripe_size=4096,
                batch_size=256,
            )
            assert _make_orc_dec(i) == buf.getvalue(), i

    def test_make_orc_double_byte_identical_to_list_construction(self):
        import io

        import pyarrow as pa
        import pyarrow.orc as orc_mod

        from gmall_flink_210726_spark.operators.orc2 import (
            _bin_rows,
            _dbl_rows,
            _make_orc_double,
        )

        for i in (1, 2, 3, 4, 5, 9, 22, 101):
            n = 1200 + (i % 4) * 300
            mf, mx = _dbl_rows(i, n)
            comp = ("uncompressed", "zlib", "snappy", "zstd", "lz4")[i % 5]
            buf = io.BytesIO()
            orc_mod.write_table(
                pa.table(
                    {
                        "f": pa.array([m / 64 for m in mf], pa.float32()),
                        "x": pa.array([m / 64 for m in mx], pa.float64()),
                        "b": pa.array(_bin_rows(i, n), pa.binary()),
                    }
                ),
                buf,
                compression=comp,
                stripe_size=4096,
                batch_size=256,
            )
            assert _make_orc_double(i) == buf.getvalue(), i


class TestCrc32cHybrid:
    def test_agrees_with_byte_at_a_time_across_size_boundary(self):
        from gmall_flink_210726_spark.operators.kafkalog import (
            _crc32c_small,
            crc32c,
        )

        rng = random.Random(3)
        # both tier boundaries (16: byte -> sliced-py, 512: -> numpy)
        for ln in (0, 1, 15, 16, 17, 31, 32, 100, 255, 511, 512, 513,
                   1000, 4096, 32771):
            d = bytes(rng.randrange(256) for _ in range(ln))
            # a seed wider than 32 bits is masked on entry
            for init in (0, 0x12345678, 0xDEADBEEF_12345678):
                seed = (init & 0xFFFFFFFF) ^ 0xFFFFFFFF
                ref = _crc32c_small(d, seed) ^ 0xFFFFFFFF
                assert crc32c(d, init) == ref, (ln, init)

    def test_known_vector(self):
        # RFC 3720 B.4: CRC32C of 32 zero bytes
        from gmall_flink_210726_spark.operators.kafkalog import crc32c

        assert crc32c(b"\x00" * 32) == 0x8A9136AA


class TestIcebergBucketVectorized:
    def test_agrees_with_scalar_transform(self):
        import numpy as np

        from gmall_flink_210726_spark.operators.iceberg2 import (
            _iceberg_buckets_np,
            iceberg_bucket,
        )

        ks = np.concatenate(
            [
                np.arange(-3000, 3000, dtype=np.int64),
                np.array(
                    [2**62, -(2**62), 2**63 - 1, -(2**63), 0],
                    dtype=np.int64,
                ),
            ]
        )
        ref = np.array([iceberg_bucket(int(k)) for k in ks])
        assert (ref == _iceberg_buckets_np(ks).astype(np.int64)).all()


class TestWalValueGenVectorized:
    def test_byte_identical_to_scalar_generator(self):
        from gmall_flink_210726_spark.operators.sstable import (
            _wal_vbyte,
            _wal_vbytes,
        )

        for i in (0, 1, 2, 13, 17, 19, 101, 4999):
            for w in (0, 3, 9, 29):
                for ln in (0, 1, 59, 40000):
                    assert _wal_vbytes(i, w, ln) == bytes(
                        _wal_vbyte(i, w, j) for j in range(ln)
                    )


class TestZstdFastPath:
    def test_fixture_streams_roundtrip_and_refuse(self):
        from gmall_flink_210726_spark.operators.zstd import (
            _make_zstd_stream,
            iter_zstd_frames,
        )

        for i in range(60):
            blob = _make_zstd_stream(i)
            try:
                frames = list(iter_zstd_frames(blob))
                err = None
            except ValueError:
                frames, err = None, "VE"
            if i % 9 == 0:
                assert err == "VE", i  # corrupt stripe must refuse
            else:
                assert err is None and frames, i

    def test_checksum_tamper_refuses_on_fast_path(self):
        from gmall_flink_210726_spark.operators.zstd import (
            _make_zstd_stream,
            iter_zstd_frames,
        )

        blob = bytearray(_make_zstd_stream(1))  # last frame checksummed
        blob[-1] ^= 0xFF
        with pytest.raises(ValueError):
            list(iter_zstd_frames(bytes(blob)))

    def test_dictionary_frames_still_take_spec_loop(self):
        # the .warc.zst dictionary convention exercises the fallback:
        # parse_zstd_dictionary output priming the window — the fast
        # path must not intercept did != 0 frames
        from gmall_flink_210726_spark.operators.warc import (
            _make_warc_zstd_stream,
            _walk_warc_zstd_text,
        )

        i = 5  # every 5th id rides the leading-dictionary convention
        blob = _make_warc_zstd_stream(i, "dict fallback text " * 8)
        st = _walk_warc_zstd_text(blob)
        assert st is not None


class TestFlacVectorized:
    """Round-15 FLAC fast paths: vectorized decode tiers and the
    byte-identical vectorized encoder, pinned to the scalar spec."""

    def test_decode_tiers_agree_on_fixture_range(self):
        from gmall_flink_210726_spark.operators.flac import (
            _make_flac_media,
            _read_flac_impl,
        )

        for i in range(200):
            blob = _make_flac_media(i)
            assert _read_flac_impl(blob, True) == _read_flac_impl(
                blob, False
            ), i

    def test_decode_tiers_agree_under_mutation(self):
        from gmall_flink_210726_spark.operators.flac import (
            _Fallback,
            _make_flac_media,
            _read_flac_impl,
        )

        rng = random.Random(1507)
        for trial in range(400):
            blob = bytearray(_make_flac_media(rng.randrange(120)))
            for _ in range(rng.randrange(1, 4)):
                blob[rng.randrange(len(blob))] ^= 1 << rng.randrange(8)
            blob = bytes(blob)
            try:
                fast = _read_flac_impl(blob, True)
            except _Fallback:
                fast = _read_flac_impl(blob, False)
            assert fast == _read_flac_impl(blob, False), trial

    def test_residual_decoders_agree(self):
        from gmall_flink_210726_spark.operators.flac import (
            _BitReader,
            _BitWriter,
            _residual_dec,
            _residual_dec_py,
            _residual_enc_py,
        )

        rng = random.Random(7)
        for trial in range(60):
            n = rng.choice((8, 64, 256))
            order = rng.randrange(0, 3)
            resid = [
                rng.randrange(-(1 << 12), 1 << 12)
                for _ in range(n - order)
            ]
            po = rng.choice((0, 1))
            if n % (1 << po):
                po = 0
            w = _BitWriter()
            _residual_enc_py(w, resid, order, po, rng.random() < 0.3)
            w.align()
            data = w.bytes()
            fast = _residual_dec(_BitReader(data), n, order)
            slow = _residual_dec_py(_BitReader(data), n, order)
            assert fast.tolist() == slow, trial

    def test_encoder_byte_identical_to_scalar(self):
        from gmall_flink_210726_spark.operators.flac import (
            _BitWriter,
            _residual_enc,
            _residual_enc_py,
        )

        rng = random.Random(99)
        for trial in range(60):
            n = rng.choice((8, 64, 256))
            order = rng.randrange(0, 3)
            resid = [
                rng.randrange(-(1 << 20), 1 << 20)
                for _ in range(n - order)
            ]
            po = rng.choice((0, 1))
            if n % (1 << po):
                po = 0
            esc = rng.random() < 0.5
            w1, w2 = _BitWriter(), _BitWriter()
            # desync the byte phase to exercise write_bits_np's
            # buffered-partial-bit prepend
            phase = rng.randrange(0, 7)
            w1.write(0, phase)
            w2.write(0, phase)
            _residual_enc(w1, resid, order, po, esc)
            _residual_enc_py(w2, resid, order, po, esc)
            w1.align()
            w2.align()
            assert w1.bytes() == w2.bytes(), trial

    def test_pcm_md5_matches_scalar(self):
        from gmall_flink_210726_spark.operators.flac import (
            _pcm_md5,
            _pcm_md5_py,
        )

        rng = random.Random(3)
        for bps in (8, 12, 16, 20, 24, 32):
            ch = rng.choice((1, 2))
            pcm = [
                [
                    rng.randrange(-(1 << (bps - 1)), 1 << (bps - 1))
                    for _ in range(50)
                ]
                for _ in range(ch)
            ]
            assert _pcm_md5(pcm, bps) == _pcm_md5_py(pcm, bps), bps
        # out-of-int64 values must route to the scalar loop
        big = [[1 << 70, -(1 << 70), 5]]
        assert _pcm_md5(big, 16) == _pcm_md5_py(big, 16)

    def test_fixture_blobs_byte_stable(self):
        # the encoder rewrite must not move a single fixture byte
        import hashlib

        from gmall_flink_210726_spark.operators.flac import (
            _make_flac_media,
        )

        digest = hashlib.sha256()
        for i in range(64):
            digest.update(_make_flac_media(i))
        assert digest.hexdigest() == (
            "97a7c5a71af77980320c3c56a0b69ccebf3d00fd249781cb822cc0afcd9d23c5"
        )
