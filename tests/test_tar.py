"""Robustness tests for the ustar walk (operators/tar.py): checksum
tampering, magic/typeflag violations, non-octal sizes, padding dirt,
truncation, and EOF malformation all degrade to format='unknown' and
never raise."""

from __future__ import annotations

import pandas as pd

from gmall_flink_210726_spark.operators.tar import (
    _BLOCK,
    TAR_SCHEMA,
    _make_tar,
    _walk_tar,
)
from gmall_flink_210726_spark.operators.multimodal import blob_batch


def _decode(blob: bytes) -> pd.Series:
    return blob_batch(_walk_tar, TAR_SCHEMA, "tar")(
        pd.DataFrame({"media_id": [1], "content": [blob]})
    ).iloc[0]


class TestTarDecode:
    def test_good_shard_decodes(self):
        for i in (1, 2, 3, 101, 999):
            row = _decode(_make_tar(i))
            n = 3 + i % 6
            assert row["format"] == "tar"
            assert row["n_members"] == n
            assert row["first_name"] == f"doc_{i}_0.txt"
            assert row["total_payload"] == sum(
                100 + (i * 37 + 53 * j) % 400 for j in range(n)
            )


class TestTarRobustness:
    def test_truncation_block_grid_degrades(self):
        blob = _make_tar(2)
        for cut in range(0, len(blob), 256):
            if cut == len(blob):
                continue
            assert _decode(blob[:cut])["format"] == "unknown", cut

    def test_checksum_tamper_detected(self):
        # flip one payload-adjacent header byte (uname area): the
        # stored checksum no longer matches the header sum
        blob = bytearray(_make_tar(3))
        blob[265] ^= 0x01  # uname[0] of the first header
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_payload_tamper_survives_but_sums_change(self):
        # payload bytes are NOT covered by the header checksum — the
        # walk stays valid and the byte sum reflects the change
        blob = bytearray(_make_tar(3))
        good = _decode(bytes(blob))
        blob[_BLOCK] = (blob[_BLOCK] + 1) % 256  # first payload byte
        mut = _decode(bytes(blob))
        assert mut["format"] == "tar"
        assert mut["payload_sum"] != good["payload_sum"]

    def test_bad_magic_rejected(self):
        blob = bytearray(_make_tar(2))
        blob[257:263] = b"gnu  \x00"
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_non_octal_size_rejected(self):
        blob = bytearray(_make_tar(2))
        blob[124] = ord("9")  # 9 is not an octal digit
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_dirty_padding_rejected(self):
        # first member's zero padding gets a stray byte
        i = 2
        size0 = 100 + (i * 37) % 400
        blob = bytearray(_make_tar(i))
        blob[_BLOCK + size0] = 0x41  # inside the 512-pad region
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_single_zero_block_eof_rejected(self):
        blob = _make_tar(2)
        assert _decode(blob[:-_BLOCK])["format"] == "unknown"

    def test_trailing_garbage_rejected(self):
        blob = _make_tar(2) + b"\x00" * 12
        assert _decode(blob)["format"] == "unknown"

    def test_directory_typeflag_rejected(self):
        blob = bytearray(_make_tar(2))
        blob[156] = ord("5")  # directory — checksum also breaks
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_foreign_and_empty_degrade(self):
        assert _decode(b"")["format"] == "unknown"
        assert _decode(None)["format"] == "unknown"
        assert _decode(b"\x00" * 1024)["format"] == "unknown"  # no members
        assert _walk_tar(b"x" * 512) is None

    def test_corrupt_stripe_of_fixture(self):
        assert _walk_tar(_make_tar(10)) is None
        assert _walk_tar(_make_tar(0)) is None


class TestZip64:
    def test_model_and_subset_rule(self):
        from gmall_flink_210726_spark.operators.zipc import (
            _make_zip64,
            _walk_zip64,
            _z64_size,
        )

        for i in (1, 2, 3, 4, 5):
            st = _walk_zip64(_make_zip64(i))
            assert st is not None, i
            n = 3 + i % 5
            assert st["n_entries"] == n
            assert st["n_zip64_extras"] == n
            assert st["total_bytes"] == sum(
                _z64_size(i, j) for j in range(n)
            )

    def test_classic_walk_refuses_zip64(self):
        """Reading sentinel values as real sizes would be corrupt —
        the classic walk must refuse, the zip64 walk must read."""
        from gmall_flink_210726_spark.operators.zipc import (
            _make_zip,
            _make_zip64,
            _walk_zip,
            _walk_zip64,
        )

        assert _walk_zip(_make_zip64(1)) is None
        assert _walk_zip64(_make_zip(1)) is None  # and vice versa

    def test_trust_refusals(self):
        from gmall_flink_210726_spark.operators.zipc import (
            _make_zip64,
            _walk_zip64,
        )

        # locator lie / missing extra u64 / entry-count lie
        for i in (13, 26, 17, 34, 19, 38):
            assert _walk_zip64(_make_zip64(i)) is None, i
