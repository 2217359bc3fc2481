"""Avro object-container walk: schema-driven datum decode, block
framing, codecs, sync/CRC degrades (operators/avro.py)."""

from __future__ import annotations

import json
import struct
import zlib

from gmall_flink_210726_spark.operators.avro import (
    _MAGIC,
    _decode_value,
    _make_avro,
    _snappy_literal,
    read_avro_container,
)
from gmall_flink_210726_spark.operators.parquetmeta import (
    _Reader,
    snappy_decompress,
)
from gmall_flink_210726_spark.operators.wire import _zz_enc


def _rdr(b: bytes) -> _Reader:
    return _Reader(b, 0, len(b))


class TestDatumDecode:
    def test_zigzag_longs(self):
        for v in (0, -1, 1, -2, 63, 64, -65, 12345, -99999, 2**40):
            assert _decode_value(_rdr(_zz_enc(v)), "long") == v

    def test_string_and_bytes(self):
        b = _zz_enc(5) + b"hello"
        assert _decode_value(_rdr(b), "string") == "hello"
        assert _decode_value(_rdr(b), "bytes") == b"hello"

    def test_union_branch_bounds(self):
        assert _decode_value(_rdr(_zz_enc(0)), ["null", "long"]) is None
        assert _decode_value(
            _rdr(_zz_enc(1) + _zz_enc(7)), ["null", "long"]
        ) == 7
        try:
            _decode_value(_rdr(_zz_enc(2)), ["null", "long"])
            raise AssertionError("union overflow accepted")
        except ValueError:
            pass

    def test_boolean_strict_byte(self):
        assert _decode_value(_rdr(b"\x01"), "boolean") is True
        assert _decode_value(_rdr(b"\x00"), "boolean") is False
        try:
            _decode_value(_rdr(b"\x02"), "boolean")
            raise AssertionError("bad boolean byte accepted")
        except ValueError:
            pass

    def test_array_negative_count_form(self):
        # block of -2 items (with byte size), then terminator
        sch = {"type": "array", "items": "long"}
        body = (
            _zz_enc(-2)
            + _zz_enc(2)
            + _zz_enc(3)
            + _zz_enc(4)
            + _zz_enc(0)
        )
        assert _decode_value(_rdr(body), sch) == [3, 4]

    def test_map_and_enum_and_fixed(self):
        m = {"type": "map", "values": "long"}
        body = _zz_enc(1) + _zz_enc(1) + b"k" + _zz_enc(9) + _zz_enc(0)
        assert _decode_value(_rdr(body), m) == {"k": 9}
        e = {"type": "enum", "symbols": ["A", "B"]}
        assert _decode_value(_rdr(_zz_enc(1)), e) == "B"
        f = {"type": "fixed", "size": 3}
        assert _decode_value(_rdr(b"xyz"), f) == b"xyz"


class TestContainerWalk:
    def test_all_codecs_roundtrip(self):
        for i in (1, 2, 3, 4, 5, 6, 30):  # six-codec rotation
            got = read_avro_container(_make_avro(i))
            assert got is not None, i
            recs, codec, nb = got
            assert len(recs) == 8 + i % 40
            assert nb == 1 + i % 3
            assert codec == (
                "null", "deflate", "snappy", "zstandard", "bzip2",
                "xz",
            )[i % 6]

    def test_sync_flip_degrades(self):
        assert read_avro_container(_make_avro(0)) is None
        assert read_avro_container(_make_avro(9)) is None
        assert read_avro_container(_make_avro(18)) is None

    def test_bad_magic_and_truncation(self):
        blob = _make_avro(1)
        assert read_avro_container(b"Obj\x02" + blob[4:]) is None
        assert read_avro_container(blob[:-10]) is None
        assert read_avro_container(b"") is None

    def test_snappy_crc_checked(self):
        """A correct snappy frame with a lying CRC must degrade."""
        blob = bytearray(_make_avro(2))  # snappy codec
        base = read_avro_container(bytes(blob))
        assert base is not None
        # the CRC is the 4 bytes before the LAST sync (16 bytes)
        blob[-17] ^= 0xFF
        assert read_avro_container(bytes(blob)) is None

    def test_block_must_consume_payload_exactly(self):
        """Hand-built container whose block declares 1 record but
        carries trailing junk -> degrade."""
        schema = json.dumps({"type": "long"}).encode()
        sync = bytes(range(16))
        head = (
            _MAGIC
            + _zz_enc(1)
            + _zz_enc(11)
            + b"avro.schema"
            + _zz_enc(len(schema))
            + schema
            + _zz_enc(0)
            + sync
        )
        payload = _zz_enc(7) + b"\x00"  # one long + 1 junk byte
        blob = head + _zz_enc(1) + _zz_enc(len(payload)) + payload + sync
        assert read_avro_container(blob) is None
        ok = head + _zz_enc(1) + _zz_enc(1) + _zz_enc(7) + sync
        got = read_avro_container(ok)
        assert got is not None and got[0] == [7]


class TestSnappyLiteralWriter:
    def test_valid_against_hand_decoder(self):
        for size in (0, 1, 59, 60, 61, 200):
            data = bytes((7 * k) % 256 for k in range(size))
            assert snappy_decompress(_snappy_literal(data)) == data

    def test_crc_is_zlib_crc32_big_endian(self):
        blob = _make_avro(2)
        got = read_avro_container(blob)
        assert got is not None
        # sanity: struct/zlib agree on a known vector
        assert struct.pack(">I", zlib.crc32(b"abc")) == b"\x35\x24\x41\xc2"


class TestLogicalTypes:
    """Avro 1.11 logical types: conversion correctness against
    Python's own datetime/decimal arithmetic, the ignore-invalid-
    annotation spec rule, value-lie refusals, and the resolved
    reader's no-promotion-into-a-logical-type rule."""

    def test_decimal_bytes_signed_roundtrip(self):
        import decimal

        from gmall_flink_210726_spark.operators.avro import (
            make_avro_container,
            read_avro_container,
        )

        sch = {
            "type": "record", "name": "R",
            "fields": [{"name": "p", "type": {
                "type": "bytes", "logicalType": "decimal",
                "precision": 9, "scale": 2}}],
        }
        for unscaled in (0, 1, -1, 127, -128, 128, 99999999,
                         -99999999, 255, -256):
            raw = unscaled.to_bytes(
                max(1, (unscaled.bit_length() + 8) // 8),
                "big", signed=True,
            )
            blob = make_avro_container(sch, [{"p": raw}])
            recs, _, _ = read_avro_container(blob)
            assert recs[0]["p"] == decimal.Decimal(
                unscaled
            ).scaleb(-2), unscaled

    def test_date_time_timestamp_uuid(self):
        import datetime

        from gmall_flink_210726_spark.operators.avro import (
            make_avro_container,
            read_avro_container,
        )

        sch = {
            "type": "record", "name": "R",
            "fields": [
                {"name": "d", "type": {
                    "type": "int", "logicalType": "date"}},
                {"name": "tm", "type": {
                    "type": "int", "logicalType": "time-millis"}},
                {"name": "tu", "type": {
                    "type": "long", "logicalType": "time-micros"}},
                {"name": "sm", "type": {
                    "type": "long",
                    "logicalType": "timestamp-millis"}},
                {"name": "su", "type": {
                    "type": "long",
                    "logicalType": "timestamp-micros"}},
                {"name": "u", "type": {
                    "type": "string", "logicalType": "uuid"}},
            ],
        }
        row = {
            "d": 19000, "tm": 86_399_999, "tu": 86_399_999_999,
            "sm": 1_600_000_000_123, "su": 1_600_000_000_123_456,
            "u": "0001A2B3-0000-4000-8000-0000DEADBEEF",
        }
        blob = make_avro_container(sch, [row])
        recs, _, _ = read_avro_container(blob)
        r0 = recs[0]
        epoch = datetime.datetime(1970, 1, 1)
        assert r0["d"] == datetime.date(1970, 1, 1) + \
            datetime.timedelta(days=19000)
        assert r0["tm"] == datetime.time(23, 59, 59, 999000)
        assert r0["tu"] == datetime.time(23, 59, 59, 999999)
        assert r0["sm"] == epoch + datetime.timedelta(
            milliseconds=1_600_000_000_123
        )
        assert r0["su"] == epoch + datetime.timedelta(
            microseconds=1_600_000_000_123_456
        )
        assert r0["u"] == "0001a2b3-0000-4000-8000-0000deadbeef"

    def test_invalid_annotations_ignored(self):
        """decimal on int / scale>precision / uuid on long: ignored
        per spec — the datum decodes as its underlying type."""
        from gmall_flink_210726_spark.operators.avro import (
            make_avro_container,
            read_avro_container,
        )

        for bad_field in (
            {"type": "int", "logicalType": "decimal", "precision": 4},
            {"type": "bytes", "logicalType": "decimal",
             "precision": 2, "scale": 5},
            {"type": "bytes", "logicalType": "decimal",
             "precision": 0, "scale": 0},
            {"type": "long", "logicalType": "uuid"},
            {"type": "long", "logicalType": "date"},
            # fixed(2) can hold at most 4 digits; precision 9 invalid
            {"type": "fixed", "name": "F", "size": 2,
             "logicalType": "decimal", "precision": 9, "scale": 1},
        ):
            sch = {"type": "record", "name": "R",
                   "fields": [{"name": "x", "type": bad_field}]}
            t = bad_field["type"]
            v = (b"\x01\x02" if t == "fixed" else
                 b"\x05" if t == "bytes" else 7)
            blob = make_avro_container(sch, [{"x": v}])
            recs, _, _ = read_avro_container(blob)
            assert recs[0]["x"] == v, bad_field

    def test_value_lies_degrade(self):
        """Out-of-range time / overlong decimal / malformed uuid are
        VALUE corruption -> container walk returns None."""
        from gmall_flink_210726_spark.operators.avro import (
            make_avro_container,
            read_avro_container,
        )

        cases = [
            ({"type": "int", "logicalType": "time-millis"},
             86_400_000),
            ({"type": "long", "logicalType": "time-micros"},
             86_400_000_000),
            ({"type": "string", "logicalType": "uuid"},
             "not-a-uuid"),
            ({"type": "bytes", "logicalType": "decimal",
              "precision": 2, "scale": 1},
             (1000).to_bytes(2, "big", signed=True)),
        ]
        for field, v in cases:
            sch = {"type": "record", "name": "R",
                   "fields": [{"name": "x", "type": field}]}
            blob = make_avro_container(sch, [{"x": v}])
            assert read_avro_container(blob) is None, field

    def test_resolution_refuses_promotion_into_logical(self):
        """Writer plain long -> reader timestamp-micros: refused (a
        promotion would mint times out of raw numbers); writer with
        the SAME logical type resolves; decimal precision/scale must
        agree exactly."""
        from gmall_flink_210726_spark.operators.avro import (
            make_avro_container,
            read_avro_resolved,
        )

        w_plain = {"type": "record", "name": "R",
                   "fields": [{"name": "t", "type": "long"}]}
        r_ts = {"type": "record", "name": "R",
                "fields": [{"name": "t", "type": {
                    "type": "long",
                    "logicalType": "timestamp-micros"}}]}
        blob = make_avro_container(w_plain, [{"t": 12345}])
        assert read_avro_resolved(blob, r_ts) is None
        # same logical type on both sides resolves
        w_ts = r_ts
        blob2 = make_avro_container(w_ts, [{"t": 12345}])
        got = read_avro_resolved(blob2, r_ts)
        assert got is not None
        # decimal scale mismatch refuses
        w_dec = {"type": "record", "name": "R",
                 "fields": [{"name": "p", "type": {
                     "type": "bytes", "logicalType": "decimal",
                     "precision": 9, "scale": 2}}]}
        r_dec3 = {"type": "record", "name": "R",
                  "fields": [{"name": "p", "type": {
                      "type": "bytes", "logicalType": "decimal",
                      "precision": 9, "scale": 3}}]}
        blob3 = make_avro_container(w_dec, [{"p": b"\x07"}])
        assert read_avro_resolved(blob3, r_dec3) is None
        assert read_avro_resolved(blob3, w_dec) is not None

    def test_fixture_stripes(self):
        from gmall_flink_210726_spark.operators.avro import (
            _avro_logical_one,
            _make_avro_logical,
        )

        for i in range(60):
            st = _avro_logical_one(i, _make_avro_logical(i))
            assert (st is None) == (i % 9 == 0 or i % 13 == 0), i
            if st is not None:
                assert st["lt_ignored"] == int(i % 6 == 0), i


class TestMalformedLogicalSchema:
    def test_nonnumeric_fixed_size_ignored_not_crash(self):
        """A fixed-decimal whose size is not an int must be treated
        as an ignored annotation, not raise TypeError (ADVICE r13)."""
        from gmall_flink_210726_spark.operators.avro import _logical_kind

        assert _logical_kind(
            {
                "type": "fixed",
                "size": "four",
                "logicalType": "decimal",
                "precision": 4,
                "scale": 1,
            }
        ) is None
        assert _logical_kind(
            {
                "type": "fixed",
                "size": 0,
                "logicalType": "decimal",
                "precision": 4,
            }
        ) is None


class TestFingerprints:
    def test_rabin_spec_vectors(self):
        """CRC-64-AVRO pinned on Avro's shared fingerprint test data:
        the canonical form of "int" fingerprints to
        0x7275d51a3f395c8f, and the empty stream to the polynomial
        constant itself."""
        from gmall_flink_210726_spark.operators.avro import (
            rabin_fingerprint64,
            schema_fingerprint,
        )

        assert rabin_fingerprint64(b"") == 0xC15D213AA4D7A795
        assert schema_fingerprint("int") == 0x7275D51A3F395C8F
        assert schema_fingerprint({"type": "int"}) == 0x7275D51A3F395C8F

    def test_canonical_form_rules(self):
        """Fullnames, attribute stripping, fixed key order, minimal
        JSON (spec 'Parsing Canonical Form')."""
        from gmall_flink_210726_spark.operators.avro import (
            parsing_canonical_form,
        )

        s = {
            "type": "record",
            "name": "Evt",
            "namespace": "com.x",
            "doc": "ignored",
            "aliases": ["Old"],
            "fields": [
                {"name": "a", "type": {"type": "int"}, "default": 0},
                {
                    "name": "tags",
                    "type": {"type": "array", "items": "string"},
                },
            ],
        }
        assert parsing_canonical_form(s) == (
            '{"name":"com.x.Evt","type":"record","fields":['
            '{"name":"a","type":"int"},'
            '{"name":"tags","type":{"type":"array","items":"string"}}]}'
        )
        # nested named types inherit the enclosing namespace
        s2 = {
            "type": "record",
            "name": "R",
            "namespace": "ns",
            "fields": [
                {
                    "name": "e",
                    "type": {
                        "type": "enum",
                        "name": "E",
                        "symbols": ["A", "B"],
                    },
                }
            ],
        }
        assert '"name":"ns.E"' in parsing_canonical_form(s2)

    def test_single_object_roundtrip(self):
        from gmall_flink_210726_spark.operators.avro import (
            _decode_value,
            decode_single_object_frame,
            encode_single_object,
            schema_fingerprint,
        )
        from gmall_flink_210726_spark.operators.parquetmeta import (
            _Reader,
        )

        sch = {
            "type": "record",
            "name": "E",
            "fields": [{"name": "a", "type": "long"}],
        }
        frame = encode_single_object(sch, {"a": -42})
        assert frame[:2] == b"\xc3\x01"
        fp, datum = decode_single_object_frame(frame)
        assert fp == schema_fingerprint(sch)
        r = _Reader(datum, 0, len(datum))
        assert _decode_value(r, sch) == {"a": -42}
        assert decode_single_object_frame(b"\xc3\x02xxxxxxxxxx") is None
