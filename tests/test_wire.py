"""Wire primitives (operators/wire.py): bit readers against
``int.from_bytes`` slicing, writer -> reader round trips, the CRC-32
check values, and the varint length cap at every decoder that reads a
varint through it."""

from __future__ import annotations

import random
import struct
import time

import numpy as np
import pytest

from gmall_flink_210726_spark.operators.wire import (
    LsbReader,
    LsbWriter,
    MsbReader,
    MsbWriter,
    _enc_uvarint,
    crc32_msb,
    uvarint,
    uvarints,
)

WIDTHS = (0, 1, 7, 8, 13, 32, 64)


def _msb_ref(data: bytes, start: int, width: int) -> int:
    big = int.from_bytes(data, "big")
    return (big >> (8 * len(data) - start - width)) & ((1 << width) - 1)


def _lsb_ref(data: bytes, start: int, width: int) -> int:
    return (int.from_bytes(data, "little") >> start) & ((1 << width) - 1)


def _signed(v: int, width: int) -> int:
    return v - (1 << width) if width and v >> (width - 1) else v


def _at(cls, data: bytes, start: int):
    r = cls(data, start // 8)
    r.read(start % 8)
    return r


class TestReaders:
    @pytest.mark.parametrize("width", WIDTHS)
    def test_reads_match_int_slicing(self, width):
        rng = random.Random(width)
        data = rng.randbytes(48)
        for _ in range(200):
            start = rng.randrange(0, 8 * len(data) - 2 * width + 1)
            want = _msb_ref(data, start, width)
            r = _at(MsbReader, data, start)
            assert r.read(width) == want
            assert r.pos * 8 + r.bit == start + width
            r = _at(MsbReader, data, start)
            assert r.read_signed(width) == _signed(want, width)
            r = _at(LsbReader, data, start)
            assert r.read(width) == _lsb_ref(data, start, width)
            assert r.read(width) == _lsb_ref(data, start + width, width)

    @pytest.mark.parametrize("width", WIDTHS)
    def test_take_np_matches_int_slicing(self, width):
        rng = random.Random(100 + width)
        data = rng.randbytes(64)
        for _ in range(50):
            count = rng.randrange(0, 7)
            start = rng.randrange(0, 8 * len(data) - count * width + 1)
            r = _at(MsbReader, data, start)
            got = r.take_np(count, width)
            assert got.dtype == np.uint64
            assert got.tolist() == [
                _msb_ref(data, start + k * width, width)
                for k in range(count)
            ]
            assert r.pos * 8 + r.bit == start + count * width

    def test_unary_then_single_bits(self):
        data = bytes([0b00010110, 0b10000000])
        r = MsbReader(data)
        assert r.read_unary() == 3
        assert [r.read(1) for _ in range(4)] == [0, 1, 1, 0]
        assert r.read_unary() == 0
        assert r.align() == 0 and (r.pos, r.bit) == (2, 0)

    def test_align_returns_the_skipped_bits(self):
        r = MsbReader(b"\xa5\xff")
        r.read(3)
        assert r.align() == 0b00101 and (r.pos, r.bit) == (1, 0)
        assert r.align() == 0
        lsb = LsbReader(b"\xa5\x3c")
        lsb.read(3)
        lsb.align()
        assert lsb.pos == 1 and lsb.read(8) == 0x3C

    def test_truncation_raises(self):
        for cls in (MsbReader, LsbReader):
            r = cls(b"\xff")
            r.read(5)
            with pytest.raises(ValueError, match="truncated"):
                r.read(4)
        with pytest.raises(ValueError, match="truncated"):
            MsbReader(b"\xff").take_np(3, 3)
        with pytest.raises(ValueError, match="shape"):
            MsbReader(b"\xff" * 9).take_np(1, 65)


class TestWriters:
    def test_msb_round_trip(self):
        rng = random.Random(7)
        ops = []
        for _ in range(400):
            n = rng.choice(WIDTHS)
            ops.append((rng.getrandbits(64) >> (64 - n) if n else 0, n))
        w = MsbWriter()
        for v, n in ops:
            w.write(v, n)
        w.write_signed(-3, 5)
        w.write_unary(40)
        w.align()
        r = MsbReader(w.bytes())
        assert [r.read(n) for _, n in ops] == [v for v, _ in ops]
        assert r.read_signed(5) == -3
        assert r.read_unary() == 40
        assert r.align() == 0 and r.pos == len(r.data)

    def test_write_bits_np_equals_write_calls(self):
        rng = random.Random(11)
        for phase in range(8):
            bits = np.array(
                [rng.getrandbits(1) for _ in range(rng.randrange(1, 40))],
                np.uint8,
            )
            fast, slow = MsbWriter(), MsbWriter()
            for w in (fast, slow):
                w.write(0b1011011, phase)
            fast.write_bits_np(bits)
            for b in bits.tolist():
                slow.write(b, 1)
            for w in (fast, slow):
                w.write(0x5, 3)
                w.align()
            assert fast.bytes() == slow.bytes()
            r = MsbReader(fast.bytes())
            r.read(phase)
            assert r.take_np(len(bits), 1).tolist() == bits.tolist()

    def test_lsb_round_trip(self):
        rng = random.Random(13)
        ops = [
            (rng.getrandbits(n), n)
            for n in (rng.choice(WIDTHS[1:]) for _ in range(400))
        ]
        w = LsbWriter()
        for v, n in ops:
            w.write(v, n)
        r = LsbReader(w.flush())
        assert [r.read(n) for _, n in ops] == [v for v, _ in ops]


class TestCrc32Msb:
    def test_check_values(self):
        # CRC-32/BZIP2 and the Ogg page CRC (CRC-32/MPEG-2 without init)
        assert crc32_msb(b"123456789", 0xFFFFFFFF) ^ 0xFFFFFFFF == 0xFC891918
        assert crc32_msb(b"123456789") == 0x89A1897F

    def test_register_chains(self):
        assert crc32_msb(b"6789", crc32_msb(b"12345")) == crc32_msb(
            b"123456789"
        )


class TestVarintEnd:
    def test_end_bounds_the_read(self):
        assert uvarint(b"\x80\x01", 0) == (128, 2)
        with pytest.raises(ValueError, match="truncated"):
            uvarint(b"\x80\x01", 0, 1)

    def test_packed_run(self):
        vals = [0, 1, 127, 128, 1 << 40, (1 << 64) - 1]
        assert uvarints(b"".join(_enc_uvarint(v) for v in vals)) == vals
        with pytest.raises(ValueError):
            uvarints(_enc_uvarint(300)[:1])


# ------------------------------------------------ the cap at each site


def _overlong(v: int) -> bytes:
    """The value ``v`` as an 11-byte LEB128: ten continuation bytes and
    a zero terminator, which a reader without a length cap accepts."""
    return bytes(0x80 | (v >> (7 * k)) & 0x7F for k in range(10)) + b"\x00"


def _gitpack_delta(enc):
    from gmall_flink_210726_spark.operators.gitpack import _apply_delta

    return _apply_delta(b"abc", enc(3) + enc(3) + b"\x03xyz")


def _gitpack_obj_header(enc):
    from gmall_flink_210726_spark.operators.gitpack import _obj_header

    size = 300  # low 4 bits in the first byte, the rest as a varint
    return _obj_header(bytes([0x80 | 3 << 4 | size & 0xF]) + enc(size >> 4), 0)


def _kafka_record(enc):
    from gmall_flink_210726_spark.operators.kafkalog import _parse_v2_records
    from gmall_flink_210726_spark.operators.wire import _zz_enc

    # attributes, ts delta, offset delta, null key, value, no headers
    rec = b"\x00" + _zz_enc(0) + _zz_enc(0) + _zz_enc(-1)
    rec += _zz_enc(2) + b"v1" + _zz_enc(0)
    return _parse_v2_records(enc(2 * len(rec)) + rec, 1)  # zigzag length


def _sstable_block(enc):
    from gmall_flink_210726_spark.operators.sstable import _parse_block

    entry = enc(0) + enc(1) + enc(1) + b"kv"
    return _parse_block(entry + struct.pack("<II", 0, 1))


def _sstable_footer(enc):
    from gmall_flink_210726_spark.operators.sstable import (
        make_sstable,
        read_sstable,
    )

    blob = make_sstable(1)
    vals, p = [], len(blob) - 48
    for _ in range(4):
        v, p = uvarint(blob, p)
        vals.append(v)
    handles = enc(vals[0]) + b"".join(_enc_uvarint(v) for v in vals[1:])
    footer = handles.ljust(40, b"\x00") + blob[-8:]
    return read_sstable(blob[:-48] + footer)


def _tfrecord_int64(enc):
    from gmall_flink_210726_spark.operators.tfrecord import (
        _pb_len,
        parse_tf_example,
    )

    feat = _pb_len(3, _pb_len(1, enc(5)))  # int64_list { value: [5] }
    entry = _pb_len(1, _pb_len(1, b"id") + _pb_len(2, feat))
    return parse_tf_example(_pb_len(1, entry))


def _orc_protobuf(enc):
    from gmall_flink_210726_spark.operators.orc import _pb_fields

    return _pb_fields(b"\x08" + enc(300))


def _thrift_reader(enc):
    from gmall_flink_210726_spark.operators.parquetmeta import _Reader

    data = enc(300)
    return _Reader(data, 0, len(data)).varint()


def _xz_multibyte(enc):
    from gmall_flink_210726_spark.operators.xz import _mb_int

    data = enc(300)
    return _mb_int(data, 0, len(data))


@pytest.mark.parametrize(
    "site",
    [
        _gitpack_delta,
        _gitpack_obj_header,
        _kafka_record,
        _sstable_block,
        _sstable_footer,
        _tfrecord_int64,
        _orc_protobuf,
        _thrift_reader,
        _xz_multibyte,
    ],
    ids=lambda f: f.__name__.lstrip("_"),
)
def test_overlong_varint_is_refused(site):
    assert site(_enc_uvarint) is not None
    try:
        got = site(_overlong)
    except ValueError:
        return
    assert got is None


def test_ofs_delta_offset_stops_past_the_pack_start():
    """An OFS_DELTA base offset that keeps continuing is refused once it
    points before the pack, not after the whole run is folded in."""
    import hashlib

    from gmall_flink_210726_spark.operators.gitpack import read_git_pack
    from gmall_flink_210726_spark.operators.tar import _BLOCK, _make_header

    pack = b"PACK" + struct.pack(">II", 2, 1)
    pack += bytes([6 << 4 | 1]) + b"\xff" * 400_000 + b"\x00"
    pack += hashlib.sha1(pack).digest()
    tar = b""
    for name, payload in (("p.pack", pack), ("p.idx", b"")):
        pad = (-len(payload)) % _BLOCK
        tar += _make_header(name, len(payload)) + payload + b"\x00" * pad
    tar += b"\x00" * (2 * _BLOCK)
    t0 = time.perf_counter()
    assert read_git_pack(tar) is None
    assert time.perf_counter() - t0 < 2.0
