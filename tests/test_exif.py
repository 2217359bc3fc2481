"""Robustness tests for the EXIF APP1 decoder (operators/exif.py):
truncation, endian flips, unsorted IFDs, bad offsets, and frame
violations all degrade to format='unknown' and never raise."""

from __future__ import annotations

import struct

import pandas as pd

from gmall_flink_210726_spark.operators.exif import (
    EXIF_SCHEMA,
    _make_exif_jpeg,
    _parse_jpeg_exif,
)
from gmall_flink_210726_spark.operators.multimodal import blob_batch


def _decode(blob: bytes) -> pd.Series:
    return blob_batch(_parse_jpeg_exif, EXIF_SCHEMA, "jpeg")(
        pd.DataFrame({"media_id": [1], "content": [blob]})
    ).iloc[0]


class TestExifDecode:
    def test_good_blob_both_endians(self):
        for i in (2, 3, 5, 100, 999):  # mix of even (II) and odd (MM)
            row = _decode(_make_exif_jpeg(i))
            assert row["format"] == "jpeg"
            assert row["byte_order"] == ("II" if i % 2 == 0 else "MM")
            assert row["orientation"] == 1 + i % 8
            assert row["make"] == f"cam{i % 5}"
            assert row["xres_num"] == 72 + i % 4
            assert row["n_ifd_entries"] == (4 if i % 3 == 0 else 3)
            assert row["width"] == 16 + i % 9
            assert row["height"] == 8 + i % 7


class TestExifRobustness:
    def test_truncation_every_cut_degrades(self):
        blob = _make_exif_jpeg(4)
        for cut in range(0, len(blob), 3):
            assert _decode(blob[:cut])["format"] == "unknown"

    def test_bit_flips_never_raise(self):
        blob = _make_exif_jpeg(5)
        for pos in range(0, len(blob), 5):
            mut = bytearray(blob)
            mut[pos] ^= 0x20
            row = _decode(bytes(mut))  # must not raise
            assert row["format"] in ("jpeg", "unknown")

    def test_unsorted_ifd_rejected(self):
        # swap the first two IFD entries: tag order breaks TIFF 6.0
        blob = _make_exif_jpeg(2)
        idx = blob.index(b"Exif\x00\x00") + 6  # TIFF base
        ifd = idx + 8 + 2  # past header + entry count
        mut = bytearray(blob)
        mut[ifd : ifd + 12], mut[ifd + 12 : ifd + 24] = (
            blob[ifd + 12 : ifd + 24],
            blob[ifd : ifd + 12],
        )
        assert _decode(bytes(mut))["format"] == "unknown"

    def test_bad_byte_order_rejected(self):
        blob = _make_exif_jpeg(2)
        idx = blob.index(b"Exif\x00\x00") + 6
        mut = bytearray(blob)
        mut[idx : idx + 2] = b"XX"
        assert _decode(bytes(mut))["format"] == "unknown"

    def test_out_of_range_value_offset_rejected(self):
        # point the Make value offset past the TIFF payload
        blob = _make_exif_jpeg(2)
        idx = blob.index(b"Exif\x00\x00") + 6
        ifd = idx + 8 + 2
        mut = bytearray(blob)
        struct.pack_into("<I", mut, ifd + 8, 60000)  # i=2 -> II
        assert _decode(bytes(mut))["format"] == "unknown"

    def test_missing_eoi_rejected(self):
        blob = _make_exif_jpeg(2)
        assert _decode(blob[:-2])["format"] == "unknown"
        assert _decode(blob + b"\x00")["format"] == "unknown"

    def test_no_exif_app1_rejected(self):
        # a JPEG with SOF0 but no APP1 has no EXIF to extract
        blob = _make_exif_jpeg(2)
        seglen = struct.unpack_from(">H", blob, 4)[0]
        stripped = blob[:2] + blob[2 + 2 + seglen :]
        assert _decode(stripped)["format"] == "unknown"

    def test_foreign_and_empty_degrade(self):
        assert _decode(b"")["format"] == "unknown"
        assert _decode(None)["format"] == "unknown"
        assert _decode(b"\xff\xd8garbage")["format"] == "unknown"

    def test_corrupt_stripe_of_fixture(self):
        assert _parse_jpeg_exif(_make_exif_jpeg(7)) is None
        assert _parse_jpeg_exif(_make_exif_jpeg(0)) is None
