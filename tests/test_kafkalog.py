"""Kafka RecordBatch v2 decode: CRC32C vectors, varint record
grammar, codec rotation, books (operators/kafkalog.py)."""

from __future__ import annotations

import struct

from gmall_flink_210726_spark.operators.kafkalog import (
    _make_kafka_segment,
    crc32c,
    read_kafka_segment,
)
from gmall_flink_210726_spark.operators.wire import _zz_enc, svarint


class TestCrc32c:
    def test_rfc3720_vectors(self):
        assert crc32c(b"") == 0
        assert crc32c(b"123456789") == 0xE3069283
        assert crc32c(b"\x00" * 32) == 0x8A9136AA  # RFC 3720 all-zeros

    def test_flip_sensitivity(self):
        a = crc32c(b"hello kafka segment")
        b = crc32c(b"hellp kafka segment")
        assert a != b


class TestVarints:
    def test_zigzag_roundtrip(self):
        for v in (0, -1, 1, 63, -64, 300, -301, 2**40, -(2**40)):
            got, pos = svarint(_zz_enc(v), 0)
            assert got == v and pos == len(_zz_enc(v))


class TestSegmentWalk:
    def test_all_codecs(self):
        for i in (1, 2, 3, 4):  # gzip lz4 zstd none
            got = read_kafka_segment(_make_kafka_segment(i))
            assert got is not None, i
            assert got["n_batches"] == 1 + i % 3

    def test_crc_catches_record_flip(self):
        for i in (0, 11, 22, 33):
            assert read_kafka_segment(_make_kafka_segment(i)) is None, i

    def test_header_books(self):
        """Patching lastOffsetDelta re-CRCs cleanly but must fail
        the header-vs-records agreement check."""
        blob = bytearray(_make_kafka_segment(4))  # none codec
        # attrs(2) at 21; lastOffsetDelta(4) at 23
        (lod,) = struct.unpack_from(">i", blob, 23)
        struct.pack_into(">i", blob, 23, lod + 1)
        # recompute the CRC so only the BOOKS disagree
        (blen,) = struct.unpack_from(">i", blob, 8)
        end = 12 + blen
        struct.pack_into(">I", blob, 17, crc32c(bytes(blob[21:end])))
        assert read_kafka_segment(bytes(blob)) is None

    def test_truncation_and_magic(self):
        blob = _make_kafka_segment(1)
        assert read_kafka_segment(blob[: len(blob) - 4]) is None
        assert read_kafka_segment(b"") is None
        b2 = bytearray(_make_kafka_segment(4))
        b2[16] = 1  # magic v1
        assert read_kafka_segment(bytes(b2)) is None

    def test_multi_batch_offsets_accumulate(self):
        i = 2  # 3 batches
        got = read_kafka_segment(_make_kafka_segment(i))
        assert got is not None
        assert got["max_offset"] == got["n_records"] - 1


# ------------------------------------------------- xerial snappy path


def test_xerial_snappy_batches_roundtrip():
    from gmall_flink_210726_spark.operators.kafkalog import (
        _make_kafka_segment,
        read_kafka_segment,
    )

    # ids = 2 mod 5 are xerial-snappy; multi-block framing (24-byte
    # blocks) is exercised whenever the records region exceeds one
    for i in (2, 7, 12, 17, 27, 37):
        st = read_kafka_segment(_make_kafka_segment(i))
        assert st is not None, i
        assert st["compression"] == "snappy"


def test_xerial_framing_violations_refused():
    from gmall_flink_210726_spark.operators.kafkalog import (
        _xerial_snappy_decompress,
    )
    import struct as _struct

    import pyarrow as pa

    blk = bytes(pa.Codec("snappy").compress(b"hello xerial"))
    good = (
        b"\x82SNAPPY\x00" + _struct.pack(">ii", 1, 1)
        + _struct.pack(">i", len(blk)) + blk
    )
    assert _xerial_snappy_decompress(good) == b"hello xerial"
    assert _xerial_snappy_decompress(b"\x83SNAPPY\x00" + good[8:]) is None
    # compat version above version
    bad_ver = b"\x82SNAPPY\x00" + _struct.pack(">ii", 1, 2) + good[16:]
    assert _xerial_snappy_decompress(bad_ver) is None
    # block length overrunning the body
    lie = (
        b"\x82SNAPPY\x00" + _struct.pack(">ii", 1, 1)
        + _struct.pack(">i", len(blk) + 9) + blk
    )
    assert _xerial_snappy_decompress(lie) is None
    assert _xerial_snappy_decompress(good[:-1]) is None


def test_compression_reported_from_decoded_attributes():
    """The compression column is the DECODED batch attribute name,
    uniform across a segment's batches."""
    from gmall_flink_210726_spark.operators.kafkalog import (
        _make_kafka_segment,
        read_kafka_segment,
    )

    for i in (5, 6, 7, 8, 9):
        st = read_kafka_segment(_make_kafka_segment(i))
        assert st is not None
        assert st["compression"] == (
            "none", "gzip", "snappy", "lz4", "zstd"
        )[i % 5]


class TestTransactionalReads:
    """KIP-98 read_committed: aborted records excluded, control
    markers balanced, interleaved producers resolved independently."""

    def test_abort_excludes_commit_includes(self):
        from gmall_flink_210726_spark.operators.kafkalog import (
            _enc_batch,
            _enc_control_record,
            _enc_record,
            read_kafka_segment_committed,
        )

        recs = b"".join(_enc_record(1, 0, r) for r in range(3))
        parts = [
            _enc_batch(0, recs, 3, 0x10, 7),          # txn pid 7
            _enc_batch(3, recs, 3, 0x10, 8),          # txn pid 8
            _enc_batch(6, _enc_control_record(0), 1, 0x30, 7),  # abort
            _enc_batch(7, _enc_control_record(1), 1, 0x30, 8),  # commit
        ]
        st = read_kafka_segment_committed(b"".join(parts))
        assert st is not None
        assert st["n_txns_aborted"] == 1
        assert st["n_txns_committed"] == 1
        assert st["aborted_records"] == 3
        assert st["committed_records"] == 3
        assert st["aborted_sum"] == st["committed_sum"]
        assert st["max_offset"] == 7

    def test_books_must_balance(self):
        from gmall_flink_210726_spark.operators.kafkalog import (
            _enc_batch,
            _enc_control_record,
            _enc_record,
            read_kafka_segment_committed,
        )

        recs = b"".join(_enc_record(1, 0, r) for r in range(2))
        # dangling open transaction
        assert read_kafka_segment_committed(
            _enc_batch(0, recs, 2, 0x10, 7)
        ) is None
        # marker for a producer with nothing open
        assert read_kafka_segment_committed(
            _enc_batch(0, _enc_control_record(1), 1, 0x30, 7)
        ) is None
        # control batch without the transactional bit
        assert read_kafka_segment_committed(
            b"".join([
                _enc_batch(0, recs, 2, 0x10, 7),
                _enc_batch(2, _enc_control_record(1), 1, 0x20, 7),
            ])
        ) is None
        # unknown control type
        assert read_kafka_segment_committed(
            b"".join([
                _enc_batch(0, recs, 2, 0x10, 7),
                _enc_batch(2, _enc_control_record(2), 1, 0x30, 7),
            ])
        ) is None
        # transactional data batch without a producer id
        assert read_kafka_segment_committed(
            b"".join([
                _enc_batch(0, recs, 2, 0x10, -1),
            ])
        ) is None

    def test_fixture_stripes(self):
        from gmall_flink_210726_spark.operators.kafkalog import (
            _make_kafka_txn_segment,
            read_kafka_segment_committed,
        )

        for i in range(80):
            st = read_kafka_segment_committed(
                _make_kafka_txn_segment(i)
            )
            bad = i % 11 == 0 or i % 17 == 0 or i % 19 == 0
            assert (st is None) == bad, i


class TestOffsetIndex:
    def test_seek_and_lies(self):
        from gmall_flink_210726_spark.operators.kafkalog import (
            _make_kafka_indexed_segment,
            read_kafka_indexed_lookup,
        )

        st = read_kafka_indexed_lookup(
            _make_kafka_indexed_segment(1), 5
        )
        assert st is not None and st["found_offset"] == 5
        # the floor entry spares scanning from the segment start
        assert st["batches_scanned"] < st["n_batches"] or (
            st["n_batches"] <= 2
        )
        # lie stripes degrade
        for i in (15, 16, 22):
            assert read_kafka_indexed_lookup(
                _make_kafka_indexed_segment(i), 5
            ) is None, i
        # a target past the segment end refuses
        assert read_kafka_indexed_lookup(
            _make_kafka_indexed_segment(1), 10_000
        ) is None


class TestAvroRegistry:
    def test_model_and_stripes(self):
        from gmall_flink_210726_spark.operators.kafkalog import (
            _make_kafka_registry_tar,
            read_kafka_avro_registry,
        )

        for i in (1, 2, 3, 4, 5, 6):
            st = read_kafka_avro_registry(_make_kafka_registry_tar(i))
            assert st is not None, i
            n = 12 + i % 9
            assert st["n_records"] == n
            assert (
                st["n_confluent"] + st["n_single_object"] == n
            )
            assert st["n_v1"] + st["n_v2"] == n
            want = sum(
                (3 * i + 7 * m) % 1000
                + (
                    (5 * i + 11 * m) % 100
                    if (i + m) % 3 == 0
                    else 5
                )
                for m in range(n)
            )
            assert st["value_sum"] == want, i
        # unregistered id / flipped fingerprint / dangling latest
        for i in (13, 26, 17, 34, 19, 38):
            assert (
                read_kafka_avro_registry(_make_kafka_registry_tar(i))
                is None
            ), i

    def test_v1_resolution_through_v2_reader(self):
        """A v1-written datum (int a) resolves through the v2 reader:
        a promoted to long, b filled from its default."""
        from gmall_flink_210726_spark.operators.avro import (
            _decode_resolved,
            _enc_datum,
        )
        from gmall_flink_210726_spark.operators.kafkalog import (
            _REG_V1,
            _REG_V2,
        )
        from gmall_flink_210726_spark.operators.parquetmeta import (
            _Reader,
        )

        datum = _enc_datum(_REG_V1, {"a": 123})
        r = _Reader(datum, 0, len(datum))
        assert _decode_resolved(r, _REG_V1, _REG_V2) == {
            "a": 123,
            "b": 5,
        }


class TestTimeIndex:
    def test_model_and_floor_semantics(self):
        from gmall_flink_210726_spark.operators.kafkalog import (
            _make_kafka_timeindexed_segment,
            _tidx_payload,
            _tidx_ts_rel,
            read_kafka_time_lookup,
        )

        for i in (1, 2, 3, 4, 5):
            st = read_kafka_time_lookup(
                _make_kafka_timeindexed_segment(i), 520
            )
            assert st is not None, i
            off = st["found_offset"]
            assert _tidx_ts_rel(i, off) >= 520
            assert off == 0 or _tidx_ts_rel(i, off - 1) < 520
            assert st["payload"] == _tidx_payload(i, off)

    def test_target_past_segment_refuses(self):
        from gmall_flink_210726_spark.operators.kafkalog import (
            _make_kafka_timeindexed_segment,
            read_kafka_time_lookup,
        )

        assert (
            read_kafka_time_lookup(
                _make_kafka_timeindexed_segment(1), 10_000_000
            )
            is None
        )

    def test_trust_refusals(self):
        from gmall_flink_210726_spark.operators.kafkalog import (
            _make_kafka_timeindexed_segment,
            read_kafka_time_lookup,
        )

        # ghost entry ts / header maxTimestamp lie / non-monotonic
        for i in (13, 26, 17, 34, 19, 38):
            assert (
                read_kafka_time_lookup(
                    _make_kafka_timeindexed_segment(i), 520
                )
                is None
            ), i


class TestCompaction:
    def test_model_and_latest_wins(self):
        from gmall_flink_210726_spark.operators.kafkalog import (
            _cmp_clean_v,
            _cmp_dirty_v,
            _cmp_ndirty,
            _cmp_nkeys,
            _make_kafka_compacted_tar,
            read_kafka_compacted,
        )

        for i in (1, 2, 3, 4, 5, 6):
            st = read_kafka_compacted(_make_kafka_compacted_tar(i))
            assert st is not None, i
            nk, nd = _cmp_nkeys(i), _cmp_ndirty(i)
            state: dict[int, int | None] = {}
            for k in range(nk):
                state[k] = (
                    None if k % 7 == 3 else _cmp_clean_v(i, k)
                )
            for j in range(nd):
                state[(i + 2 * j) % nk] = (
                    None if j % 5 == 4 else _cmp_dirty_v(i, j)
                )
            live = {
                k: v for k, v in state.items() if v is not None
            }
            assert st["live_keys"] == len(live), i
            assert st["value_sum"] == sum(live.values()), i
            assert st["n_records"] == nk + nd
            assert st["clean_records"] == nk

    def test_trust_refusals(self):
        from gmall_flink_210726_spark.operators.kafkalog import (
            _make_kafka_compacted_tar,
            read_kafka_compacted,
        )

        # clean duplicate key / checkpoint past end / CRC flip
        for i in (13, 26, 17, 34, 19, 38):
            assert (
                read_kafka_compacted(_make_kafka_compacted_tar(i))
                is None
            ), i

    def test_null_key_refuses(self):
        """A record without a key cannot live in a compacted topic."""
        from gmall_flink_210726_spark.operators.kafkalog import (
            _enc_batch_sparse,
            _enc_kv_record,
            read_kafka_compacted,
        )
        from gmall_flink_210726_spark.operators.tar import (
            _BLOCK,
            _make_header,
        )

        body = bytearray(b"\x00")
        body += _zz_enc(0) + _zz_enc(0)  # ts/offset delta
        body += _zz_enc(-1)  # NULL key
        body += _zz_enc(2) + b"v1"
        body += _zz_enc(0)
        rec = _zz_enc(len(body)) + bytes(body)
        seg = _enc_batch_sparse(0, rec, 1, 0)
        members = [
            ("cleaner-offset-checkpoint", b"0\n1\nevents 0 1\n"),
            ("%020d.log" % 0, seg),
        ]
        parts = []
        for name, payload in members:
            pad = (-len(payload)) % _BLOCK
            parts.append(
                _make_header(name, len(payload))
                + payload
                + b"\x00" * pad
            )
        tar = b"".join(parts) + b"\x00" * (2 * _BLOCK)
        assert read_kafka_compacted(tar) is None
        # control: the same shape WITH a key reads fine
        good = _enc_kv_record(0, b"k0", b"v1")
        seg2 = _enc_batch_sparse(0, good, 1, 0)
        parts = []
        for name, payload in [
            ("cleaner-offset-checkpoint", b"0\n1\nevents 0 1\n"),
            ("%020d.log" % 0, seg2),
        ]:
            pad = (-len(payload)) % _BLOCK
            parts.append(
                _make_header(name, len(payload))
                + payload
                + b"\x00" * pad
            )
        tar2 = b"".join(parts) + b"\x00" * (2 * _BLOCK)
        st = read_kafka_compacted(tar2)
        assert st is not None and st["live_keys"] == 1

    def test_segment_name_mismatch_refuses(self):
        from gmall_flink_210726_spark.operators.kafkalog import (
            _enc_batch_sparse,
            _enc_kv_record,
            read_kafka_compacted,
        )
        from gmall_flink_210726_spark.operators.tar import (
            _BLOCK,
            _make_header,
        )

        seg = _enc_batch_sparse(
            5, _enc_kv_record(0, b"k0", b"v1"), 1, 0
        )
        parts = []
        for name, payload in [
            ("cleaner-offset-checkpoint", b"0\n1\nevents 0 1\n"),
            ("%020d.log" % 0, seg),  # name says 0, batch says 5
        ]:
            pad = (-len(payload)) % _BLOCK
            parts.append(
                _make_header(name, len(payload))
                + payload
                + b"\x00" * pad
            )
        tar = b"".join(parts) + b"\x00" * (2 * _BLOCK)
        assert read_kafka_compacted(tar) is None
