"""Ogg/Opus container walk (operators/ogg.py)."""

from gmall_flink_210726_spark.operators.ogg import (
    _ogg_frames,
    _ogg_n_packets,
    _ogg_packet_samples,
    _ogg_preskip,
    make_ogg_opus,
    read_ogg_opus,
)
from gmall_flink_210726_spark.operators.wire import crc32_msb


class TestCrc:
    def test_empty_is_zero(self):
        assert crc32_msb(b"") == 0

    def test_rfc_variant_differs_from_zlib(self):
        import zlib

        data = b"OggS\x00\x02" + bytes(20)
        assert crc32_msb(data) != zlib.crc32(data)

    def test_unreflected_shift_behavior(self):
        # one zero byte shifts the register without feedback
        assert crc32_msb(b"\x00") == 0
        assert crc32_msb(b"\x80") != 0


class TestModel:
    def test_good_ids_match_formula(self):
        for i in (1, 2, 3, 4, 5, 6, 7, 8):
            st = read_ogg_opus(make_ogg_opus(i))
            assert st is not None, i
            nq = _ogg_n_packets(i)
            total = sum(
                _ogg_packet_samples(i, p) for p in range(nq)
            )
            assert st["n_packets"] == nq
            assert st["n_frames"] == sum(
                _ogg_frames(p) for p in range(nq)
            )
            assert (
                st["duration_samples"] == total - _ogg_preskip(i)
            )
            assert st["channels"] == 1 + i % 2

    def test_packet_spans_page_boundary(self):
        """Packet 6 is 600 bytes: all-255 lacing on its first page,
        remainder on the next — reassembly must see one packet and
        the continuation-only granule rules must hold."""
        st = read_ogg_opus(make_ogg_opus(1))
        assert st is not None
        assert st["n_packets"] == _ogg_n_packets(1)


class TestTrustChain:
    def test_stripes_refuse(self):
        # CRC flip / granule lie / page-sequence gap
        for i in (13, 26, 17, 34, 19, 38):
            assert read_ogg_opus(make_ogg_opus(i)) is None, i

    def test_truncation_refuses(self):
        blob = make_ogg_opus(1)
        assert read_ogg_opus(blob[:-10]) is None

    def test_trailing_garbage_refuses(self):
        assert read_ogg_opus(make_ogg_opus(1) + b"x") is None

    def test_continuation_flag_mismatch_refuses(self):
        """Setting 0x01 on a page that does not continue a packet
        must refuse (re-CRC'd so only the flag is wrong)."""
        import struct

        from gmall_flink_210726_spark.operators.ogg import _make_page

        blob = bytearray(make_ogg_opus(1))
        # page 1 (OpusTags) starts at the end of page 0
        nseg0 = blob[26]
        body0 = sum(blob[27 : 27 + nseg0])
        off1 = 27 + nseg0 + body0
        assert blob[off1 : off1 + 4] == b"OggS"
        (
            _v,
            flags,
            granule,
            serial,
            seq,
            _crc,
            nseg,
        ) = struct.unpack_from("<BBqIIIB", blob, off1 + 4)
        lace = bytes(blob[off1 + 27 : off1 + 27 + nseg])
        body = bytes(
            blob[off1 + 27 + nseg : off1 + 27 + nseg + sum(lace)]
        )
        fixed = _make_page(
            flags | 0x01, granule, serial, seq, lace, body
        )
        end1 = off1 + 27 + nseg + sum(lace)
        tampered = bytes(blob[:off1]) + fixed + bytes(blob[end1:])
        assert read_ogg_opus(tampered) is None
