"""Robustness tests for the ZIP central-directory walk
(operators/zipc.py): CRC tampering, signature/name mismatches between
central and local records, EOCD malformation, truncation — all degrade
to format='unknown' and never raise. Good blobs must round-trip
through Python's own zipfile (they are REAL archives)."""

from __future__ import annotations

import io
import struct
import zipfile

import pandas as pd

from gmall_flink_210726_spark.operators.zipc import (
    ZIP_SCHEMA,
    _make_zip,
    _walk_zip,
)
from gmall_flink_210726_spark.operators.multimodal import blob_batch


def _decode(blob: bytes) -> pd.Series:
    return blob_batch(_walk_zip, ZIP_SCHEMA, "zip")(
        pd.DataFrame({"media_id": [1], "content": [blob]})
    ).iloc[0]


class TestZipDecode:
    def test_good_blob_decodes_and_is_a_real_zip(self):
        for i in (1, 2, 3, 101, 999):
            blob = _make_zip(i)
            row = _decode(blob)
            n = 2 + i % 5
            assert row["format"] == "zip"
            assert row["n_entries"] == n
            assert row["first_name"] == f"f_{i}_0.bin"
            zf = zipfile.ZipFile(io.BytesIO(blob))
            assert len(zf.infolist()) == n
            assert zf.testzip() is None  # stdlib CRC check agrees


class TestZipRobustness:
    def test_truncation_degrades(self):
        blob = _make_zip(2)
        for cut in range(0, len(blob), 17):
            assert _decode(blob[:cut])["format"] == "unknown", cut

    def test_crc_tamper_detected(self):
        # flip one payload byte: the stored CRC-32 no longer matches
        blob = bytearray(_make_zip(3))
        name_len = len(b"f_3_0.bin")
        blob[30 + name_len] ^= 0xFF  # first payload byte
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_central_local_name_mismatch_detected(self):
        blob = bytearray(_make_zip(3))
        idx = bytes(blob).find(b"PK\x01\x02")
        blob[idx + 46] ^= 0x01  # first char of the central-dir name
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_eocd_count_tamper_detected(self):
        blob = bytearray(_make_zip(3))
        eocd = bytes(blob).rfind(b"PK\x05\x06")
        struct.pack_into("<H", blob, eocd + 10, 1)  # n_total := 1
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_compressed_method_rejected(self):
        # method=8 (DEFLATE) in the central record: walk requires STORED
        blob = bytearray(_make_zip(2))
        idx = bytes(blob).find(b"PK\x01\x02")
        struct.pack_into("<H", blob, idx + 10, 8)
        assert _decode(bytes(blob))["format"] == "unknown"

    def test_bit_flips_never_raise(self):
        blob = _make_zip(5)
        for pos in range(0, len(blob), 23):
            mut = bytearray(blob)
            mut[pos] ^= 0x02
            row = _decode(bytes(mut))  # must not raise
            assert row["format"] in ("zip", "unknown")

    def test_foreign_and_empty_degrade(self):
        assert _decode(b"")["format"] == "unknown"
        assert _decode(None)["format"] == "unknown"
        assert _decode(b"PK\x05\x06" + b"\x00" * 18)["format"] == "unknown"

    def test_corrupt_stripe_of_fixture(self):
        assert _walk_zip(_make_zip(12)) is None
        assert _walk_zip(_make_zip(0)) is None
