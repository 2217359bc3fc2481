"""ORC walk: protobuf grammar, RLEv2 all four sub-encodings vs the
real C++ writer, compressed-stream framing, stats cross-check
degrades (operators/orc.py)."""

from __future__ import annotations

import io

import pyarrow as pa
import pyarrow.orc as orc_mod
import pytest

from gmall_flink_210726_spark.operators.orc import (
    _closest_fixed_bits,
    _decode_width,
    _make_orc,
    _orc_values,
    _pb_fields,
    read_orc_int_column,
    rle_v2_signed,
)
from gmall_flink_210726_spark.operators.wire import (
    _enc_uvarint,
    _zz_enc,
    svarint,
    uvarint,
)


def _write(vals, compression="uncompressed", stripe_size=4096):
    buf = io.BytesIO()
    orc_mod.write_table(
        pa.table({"k": pa.array(vals, pa.int64())}),
        buf,
        compression=compression,
        stripe_size=stripe_size,
    )
    return buf.getvalue()


class TestVarint:
    def test_max_uint64_decodes(self):
        assert uvarint(b"\xff" * 9 + b"\x01", 0) == ((1 << 64) - 1, 10)
        assert svarint(b"\x03", 0) == (-2, 1)

    def test_overlong_varint_raises(self):
        # 11 continuation bytes before the terminator: past 64 bits
        for read in (uvarint, svarint):
            with pytest.raises(ValueError, match="too long"):
                read(b"\xff" * 11 + b"\x01", 0)

    def test_truncated_varint_raises(self):
        for read in (uvarint, svarint):
            with pytest.raises(ValueError):
                read(b"\x80\x80", 0)

    @pytest.mark.parametrize(
        "v, n_bytes", [(0, 1), (127, 1), (128, 2), ((1 << 63) - 1, 9), (-5, 10)]
    )
    def test_encoder_round_trips(self, v, n_bytes):
        # a negative int64 goes through tfrecord's two's-complement mask
        from gmall_flink_210726_spark.operators.tfrecord import _U64

        assert uvarint(_enc_uvarint(v & _U64), 0) == (v & _U64, n_bytes)
        assert svarint(_zz_enc(v), 0)[0] == v

    def test_encoder_refuses_unmasked_negative(self):
        with pytest.raises(ValueError, match="negative"):
            _enc_uvarint(-1)

    def test_orc2_reads_through_the_same_varint(self):
        from gmall_flink_210726_spark.operators import orc2

        assert orc2.uvarint is uvarint


class TestProtobufWalk:
    def test_wire_types(self):
        # field 1 varint 300, field 2 bytes "ab", field 3 fixed32
        msg = (
            b"\x08\xac\x02"
            + b"\x12\x02ab"
            + b"\x1d\x01\x02\x03\x04"
        )
        got = _pb_fields(msg)
        assert got == {1: [300], 2: [b"ab"], 3: [b"\x01\x02\x03\x04"]}

    def test_truncation_raises(self):
        try:
            _pb_fields(b"\x12\x7fab")
            raise AssertionError("truncated bytes accepted")
        except ValueError:
            pass

    def test_width_tables(self):
        assert [_decode_width(c) for c in (0, 15, 23, 24, 27, 31)] == [
            1, 16, 24, 26, 32, 64,
        ]
        assert _closest_fixed_bits(54) == 56
        assert _closest_fixed_bits(7) == 7
        assert _closest_fixed_bits(25) == 26


class TestRleV2AgainstRealWriter:
    def test_every_sub_encoding_round_trips(self):
        """Per mode, decode the full file and compare value-by-value
        with what we asked the C++ writer to write; assert the
        expected sub-encoding actually appeared."""
        want = {0: 0b0001, 1: 0b1000, 2: 0b0010, 3: 0b0100}
        for mode in range(4):
            i = 4 + mode  # avoid the corrupt stripe
            vals = _orc_values(i, 2500)
            got = read_orc_int_column(_write(vals))
            assert got is not None, mode
            assert got["k_sum"] == sum(vals)
            assert got["k_min"] == min(vals)
            assert got["k_max"] == max(vals)
            assert got["enc_mask"] & want[mode], (
                mode,
                bin(got["enc_mask"]),
            )

    def test_negative_values(self):
        vals = [(3 * r) % 777 - 400 for r in range(3000)]
        got = read_orc_int_column(_write(vals))
        assert got is not None
        assert got["k_min"] == min(vals) and got["k_sum"] == sum(vals)

    def test_overshoot_rejected(self):
        # SHORT_REPEAT of 5 values asked to produce only 3
        try:
            rle_v2_signed(b"\x12\x0a", 3)  # w=3? craft: count 5
            raise AssertionError("overshoot accepted")
        except ValueError:
            pass


class TestFileWalk:
    def test_all_compressions(self):
        for i in (1, 2, 3, 4, 5):  # zlib snappy zstd lz4 none
            got = read_orc_int_column(_make_orc(i))
            assert got is not None, i
            n = 2000 + (i % 5) * 500
            vals = _orc_values(i, n)
            assert got["n_rows"] == n and got["k_sum"] == sum(vals)

    def test_multi_stripe_books(self):
        # only uncompressed files split at 4 KiB (the writer's
        # stripe estimate uses compressed buffer sizes)
        i = 5
        got = read_orc_int_column(_make_orc(i))
        assert got is not None and got["n_stripes"] >= 2

    def test_corrupt_stripes_degrade(self):
        for i in (0, 17, 34, 51, 68):
            assert read_orc_int_column(_make_orc(i)) is None, i

    def test_lying_stats_degrade(self):
        """Patch the footer's IntegerStatistics sum: the independent
        decode must disagree."""
        vals = [5] * 100
        blob = bytearray(_write(vals))
        # uncompressed footer: locate the stats sum varint for 500
        # (sum=500 -> zigzag 1000 -> varint e8 07) and nudge it
        idx = bytes(blob).rfind(b"\xe8\x07")
        assert idx > 0
        blob[idx] = 0xEA  # sum becomes 501
        assert read_orc_int_column(bytes(blob)) is None

    def test_truncation_and_magic(self):
        blob = _make_orc(1)
        assert read_orc_int_column(blob[: len(blob) // 2]) is None
        assert read_orc_int_column(b"XRC" + blob[3:]) is None
        assert read_orc_int_column(b"") is None


class TestStringColumn:
    def test_direct_and_dictionary_roundtrip(self):
        from gmall_flink_210726_spark.operators.orc import (
            _make_orc_str,
            read_orc_string_column,
        )

        saw = set()
        for i in (2, 3, 4, 5, 6, 7):
            got = read_orc_string_column(_make_orc_str(i))
            assert got is not None, i
            n = 1500 + (i % 4) * 400
            m = 5 + i % 6
            vals = [
                None if (i + r) % 6 == 0 else f"w{(i + 3 * r) % m}"
                for r in range(n)
            ]
            nn = [v for v in vals if v is not None]
            assert got["n_nulls"] == n - len(nn)
            assert got["str_len_sum"] == sum(len(v) for v in nn)
            assert got["min_s"] == min(nn) and got["max_s"] == max(nn)
            saw.add(
                "dict" if got["used_dictionary"] else "direct"
            )
        assert saw == {"dict", "direct"}

    def test_byte_rle_forms(self):
        from gmall_flink_210726_spark.operators.orc import _byte_rle

        # run: control 2 -> 5 copies; literal: control 0xFE -> 2 bytes
        assert _byte_rle(b"\x02\xaa\xfe\x01\x02") == b"\xaa" * 5 + b"\x01\x02"
        try:
            _byte_rle(b"\x05")
            raise AssertionError("truncated run accepted")
        except ValueError:
            pass

    def test_present_flip_degrades(self):
        from gmall_flink_210726_spark.operators.orc import (
            _make_orc_str,
            read_orc_string_column,
        )

        for i in (0, 19, 38, 57, 76):
            assert read_orc_string_column(_make_orc_str(i)) is None, i

    def test_unsigned_vs_signed_rle(self):
        from gmall_flink_210726_spark.operators.orc import (
            rle_v2_signed,
            rle_v2_unsigned,
        )

        # SHORT_REPEAT of value byte 0x04, count 3: unsigned 4, signed 2
        blob = b"\x00\x04"
        assert rle_v2_unsigned(blob, 3)[0] == [4, 4, 4]
        assert rle_v2_signed(blob, 3)[0] == [2, 2, 2]
