"""XZ / LZMA2 / LZMA from scratch, pinned against stdlib ``lzma``,
plus the hand CRC-64 it checks with. No Spark."""

from __future__ import annotations

import lzma
import os
import random

import pytest

from gmall_flink_210726_spark.operators.xz import (
    _CHECK_SIZES,
    _make_xz_archive,
    _XZ_CHECKS,
    crc64_xz,
    read_xz_archive,
    xz_decompress_multistream,
    xz_decompress_stream,
)

# ---------------------------------------------------------- checksums


def test_crc64_check_vector():
    # the classic CRC check string under ECMA-182 (the xz CRC-64)
    assert crc64_xz(b"123456789") == 0x995DC9BBDF1939FA
    assert crc64_xz(b"") == 0


@pytest.mark.parametrize(
    "check", [lzma.CHECK_CRC32, lzma.CHECK_CRC64, lzma.CHECK_SHA256]
)
def test_stored_check_flip_refused(check):
    # single block, single stream: the check field sits right before
    # the index, whose first byte is the 0x00 indicator
    plain = b"check field payload " * 50
    comp = lzma.compress(plain, format=lzma.FORMAT_XZ, check=check, preset=1)
    size = _CHECK_SIZES[check]
    index_start = len(comp) - 12 - 12  # footer 12 + 1-record index 12
    assert comp[index_start] == 0
    for k in range(size):
        bad = bytearray(comp)
        bad[index_start - size + k] ^= 0x01
        assert xz_decompress_multistream(bytes(bad)) is None, k


# --------------------------------------------------------- decode core

_CHECKS = [
    lzma.CHECK_NONE,
    lzma.CHECK_CRC32,
    lzma.CHECK_CRC64,
    lzma.CHECK_SHA256,
]


@pytest.mark.parametrize("check", _CHECKS)
@pytest.mark.parametrize("preset", [0, 1, 6, 9])
def test_roundtrip_against_stdlib(check, preset):
    rng = random.Random(preset * 31 + check)
    for kind in range(5):
        n = rng.randrange(1, 40000)
        data = {
            0: os.urandom(n),
            1: (b"hello world " * (n // 12 + 1))[:n],
            2: b"a" * n,  # rep-match heavy
            3: bytes(rng.choice(b"abcd") for _ in range(n)),
            4: (b"x" + os.urandom(20)) * (n // 21 + 1),
        }[kind]
        comp = lzma.compress(data, format=lzma.FORMAT_XZ, check=check, preset=preset)
        blocks, _ckname, end = xz_decompress_stream(comp, 0)
        assert b"".join(blocks) == data
        assert end == len(comp)


def test_multistream_with_padding():
    parts = [b"alpha" * 500, b"beta" * 123, os.urandom(3000)]
    blob = b"".join(
        lzma.compress(p, format=lzma.FORMAT_XZ, check=lzma.CHECK_CRC64)
        + b"\x00" * 4
        for p in parts
    )
    got = xz_decompress_multistream(blob)
    assert got is not None
    assert got[0] == b"".join(parts) and got[1] == 3 and got[2] == "crc64"


def test_every_byte_flip_detected():
    orig = b"the quick brown fox jumps over the lazy dog " * 30
    comp = lzma.compress(
        orig, format=lzma.FORMAT_XZ, check=lzma.CHECK_CRC64, preset=1
    )
    for pos in range(len(comp)):
        bad = bytearray(comp)
        bad[pos] ^= 0xFF
        got = xz_decompress_multistream(bytes(bad))
        # the rc_is_finished final-state check closes the classic
        # blind spot: flush bytes no decision consults
        assert got is None or got[0] != orig, pos


def test_truncation_and_garbage():
    comp = lzma.compress(b"data" * 200, format=lzma.FORMAT_XZ)
    assert xz_decompress_multistream(comp[: len(comp) // 2]) is None
    assert xz_decompress_multistream(b"\xfd7zXZ\x00" + b"\x01" * 20) is None
    assert xz_decompress_multistream(b"") is None


# ------------------------------------------------------------ fixtures


@pytest.mark.parametrize("i", [1, 2, 3, 5, 7, 16, 29, 58, 101])
def test_archive_walk_matches_formula(i):
    st = read_xz_archive(_make_xz_archive(i))
    n = 300 + (i % 7) * 60
    vals = [(3 * i + t) % 50 for t in range(n)]
    assert st == {
        "n_streams": 1 + i % 2,
        "check": _XZ_CHECKS[i % 4],
        "payload_len": sum(2 + len(str(v)) for v in vals),
        "n_words": n,
        "word_sum": sum(vals),
    }


def test_archive_degrade_stripes():
    for i in (13, 26, 0):  # mid-blob flip
        assert read_xz_archive(_make_xz_archive(i)) is None
    for i in (9, 18, 27):  # stored-check-field flip: only the content
        assert read_xz_archive(_make_xz_archive(i)) is None


# -------------------------------------------------------- legacy .lzma

from gmall_flink_210726_spark.operators.xz import (  # noqa: E402
    _ALONE_COMBOS,
    _make_lzma_alone,
    lzma_alone_decompress,
    read_lzma_alone,
)


@pytest.mark.parametrize("combo", _ALONE_COMBOS)
def test_alone_roundtrip_all_literal_contexts(combo):
    lc, lp, pb = combo
    rng = random.Random(lc * 31 + lp * 7 + pb)
    for kind in range(4):
        n = rng.randrange(1, 30000)
        data = {
            0: os.urandom(n),
            1: (b"hello world " * (n // 12 + 1))[:n],
            2: b"a" * n,
            3: bytes(rng.choice(b"abcd") for _ in range(n)),
        }[kind]
        comp = lzma.compress(
            data,
            format=lzma.FORMAT_ALONE,
            filters=[
                {
                    "id": lzma.FILTER_LZMA1,
                    "preset": 2,
                    "lc": lc,
                    "lp": lp,
                    "pb": pb,
                }
            ],
        )
        assert lzma_alone_decompress(comp) == data


def test_alone_flips_outside_dict_size_detected():
    orig = b"flip sweep payload " * 40
    comp = lzma.compress(orig, format=lzma.FORMAT_ALONE)
    for pos in range(len(comp)):
        bad = bytearray(comp)
        bad[pos] ^= 0xFF
        try:
            same = lzma_alone_decompress(bytes(bad)) == orig
        except ValueError:
            continue
        # bytes 1..4 are the dict-size field: pure metadata that
        # cannot affect a marker-terminated decode
        assert not same or 1 <= pos <= 4, pos


@pytest.mark.parametrize("i", [1, 2, 3, 5, 7, 16, 29, 58])
def test_alone_fixture_matches_formula(i):
    st = read_lzma_alone(_make_lzma_alone(i))
    n = 250 + (i % 5) * 50
    vals = [(7 * i + 3 * t) % 40 for t in range(n)]
    lc, lp, pb = _ALONE_COMBOS[i % 4]
    assert st == {
        "lc": lc,
        "lp": lp,
        "pb": pb,
        "payload_len": sum(2 + len(str(v)) for v in vals),
        "n_words": n,
        "word_sum": sum(vals),
    }


def test_alone_degrade_stripes():
    for i in (13, 26, 0, 9, 18):
        assert read_lzma_alone(_make_lzma_alone(i)) is None


# ----------------------------------------------- mid-block dict resets


def test_lzma2_mid_block_dict_reset_keeps_prior_output():
    """A dict reset only bounds back-references; output decoded
    before the reset is still part of the stream. Build a raw LZMA2
    stream by hand (two control-1 copy chunks = two dict resets,
    then the end marker) and pin it against stdlib's raw LZMA2
    decoder."""
    from gmall_flink_210726_spark.operators.xz import lzma2_decompress

    a, b = b"hello lzma2 ", b"after the dict reset"
    raw = (
        b"\x01" + (len(a) - 1).to_bytes(2, "big") + a
        + b"\x01" + (len(b) - 1).to_bytes(2, "big") + b
        + b"\x00"
    )
    dec = lzma.LZMADecompressor(
        format=lzma.FORMAT_RAW,
        filters=[{"id": lzma.FILTER_LZMA2, "preset": 6}],
    )
    expect = dec.decompress(raw)
    assert expect == a + b
    plain, pos = lzma2_decompress(raw, 0, len(raw))
    assert plain == expect and pos == len(raw)


def test_lzma2_compressed_chunk_after_copy_dict_reset():
    """Compressed chunk whose dictionary starts at a mid-stream
    reset: take a stdlib raw LZMA2 stream (which begins with a dict
    reset) and prepend a control-1 copy chunk; the copy chunk's
    bytes must survive in the output and must NOT be reachable as
    match history for the compressed part."""
    from gmall_flink_210726_spark.operators.xz import lzma2_decompress

    body = b"the quick brown fox " * 8
    comp = lzma.compress(
        body,
        format=lzma.FORMAT_RAW,
        filters=[{"id": lzma.FILTER_LZMA2, "preset": 6}],
    )
    assert comp.endswith(b"\x00")
    prefix = b"PRE" * 5
    raw = b"\x01" + (len(prefix) - 1).to_bytes(2, "big") + prefix + comp
    dec = lzma.LZMADecompressor(
        format=lzma.FORMAT_RAW,
        filters=[{"id": lzma.FILTER_LZMA2, "preset": 6}],
    )
    expect = dec.decompress(raw)
    assert expect == prefix + body
    plain, pos = lzma2_decompress(raw, 0, len(raw))
    assert plain == expect and pos == len(raw)
