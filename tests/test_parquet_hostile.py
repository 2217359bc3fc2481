"""Hostile parquet bytes against every walker on the shared reader core
(``parquetmeta.read_footer`` / ``column_chunk`` / ``read_page``).

Each walker starts from one of its own valid fixtures and gets six
corruptions: a truncated file, a footer length past the start, a
3,000-byte run of nested-struct field headers, a first page header
with no compressed size or one that runs past the end of the file, and
a valid first page header in front of a 2-byte page, too short for the
level length a v1 page starts with. A walker must refuse each one with
None or ValueError, in bounded time.
"""

from __future__ import annotations

import struct
import time

import pytest

from gmall_flink_210726_spark.operators import (
    deltacp,
    iceberg,
    pageindex,
    parquetmeta as pm,
    pqbloom,
)
from gmall_flink_210726_spark.operators.wds import _iter_tar_members
from gmall_flink_210726_spark.operators.wire import _enc_uvarint, _zz_enc

_ALL = (-(10**9), 10**9)  # a predicate that skips no row group or page


def _member(tar: bytes, suffix: str) -> bytes:
    return next(b for n, b in _iter_tar_members(tar) if n.endswith(suffix))


# (walker id, base fixture, walk, reads pages)
WALKERS = [
    ("parse_parquet_footer", lambda: pm._make_parquet(1),
     pm.parse_parquet_footer, False),
    ("parquet_leaf_fields", lambda: pm._make_parquet(1),
     pm.parquet_leaf_fields, False),
    ("read_parquet_column_k", lambda: pm._make_parquet(1),
     pm.read_parquet_column_k, True),
    ("read_parquet_column_s_dict", lambda: pm._make_parquet_dict(1),
     pm.read_parquet_column_s_dict, True),
    ("read_parquet_columns_v2", lambda: pm._make_parquet_v2(1),
     pm.read_parquet_columns_v2, True),
    ("read_parquet_columns_bss_dba", lambda: pm._make_parquet_bss(1),
     pm.read_parquet_columns_bss_dba, True),
    ("parquet_stats_skip", lambda: pm._make_parquet_stats(1),
     lambda b: pm.parquet_stats_skip(b, *_ALL), True),
    ("read_parquet_nested", lambda: pm._make_parquet_nested(1),
     pm.read_parquet_nested, True),
    ("read_parquet_map", lambda: pm._make_parquet_map(1),
     pm.read_parquet_map, True),
    ("read_parquet_deep", lambda: pm._make_parquet_deep(1),
     pm.read_parquet_deep, True),
    ("read_parquet_struct", lambda: pm._make_parquet_struct(1),
     pm.read_parquet_struct, True),
    ("read_parquet_page_index", lambda: pageindex._make_parquet_pageindex(1),
     lambda b: pageindex.read_parquet_page_index(b, *_ALL), True),
    # q = 1 is group 0's first value, so the lookup opens group 0
    ("read_parquet_bloom_lookup", lambda: pqbloom._make_parquet_bloom(1),
     lambda b: pqbloom.read_parquet_bloom_lookup(b, 1), True),
    ("deltacp._decode_leaves",
     lambda: _member(
         deltacp._make_delta_checkpoint_table(1), ".checkpoint.parquet"
     ),
     lambda b: deltacp._decode_leaves(b, deltacp._LEAVES), True),
    ("iceberg._read_pos_delete_parquet",
     lambda: _member(
         iceberg._make_iceberg_mor_table(1), "deletes-00000.parquet"
     ),
     iceberg._read_pos_delete_parquet, True),
]


def _thrift_value(v, in_list: bool) -> tuple[int, bytes]:
    """(compact type, encoding) of one value as ``_read_struct`` parses it."""
    if isinstance(v, bool):
        t = 1 if v else 2
        return t, bytes([t]) if in_list else b""
    if isinstance(v, int):
        return 6, _zz_enc(v)
    if isinstance(v, bytes):
        return 8, _enc_uvarint(len(v)) + v
    if isinstance(v, dict):
        return 12, _thrift(v)
    elems = [_thrift_value(e, True) for e in v]
    etype = elems[0][0] if elems else 5
    head = bytes([min(len(elems), 15) << 4 | etype])
    if len(elems) >= 15:
        head += _enc_uvarint(len(elems))
    return 9, head + b"".join(e for _, e in elems)


def _thrift(fields: dict) -> bytes:
    """Thrift compact encoding of a ``_read_struct`` result."""
    out = bytearray()
    last = 0
    for fid in sorted(fields):
        t, enc = _thrift_value(fields[fid], False)
        if 0 < fid - last <= 15:
            out.append((fid - last) << 4 | t)
        else:
            out += bytes([t]) + _zz_enc(fid)
        out += enc
        last = fid
    return bytes(out + b"\x00")


def test_thrift_writer_round_trips_a_footer():
    base = pm._make_parquet_nested(1)
    meta = pm.read_footer(base)
    enc = _thrift(meta)
    assert pm._read_struct(pm._Reader(enc, 0, len(enc))) == meta


def _with_first_page(base: bytes, header: dict, page: bytes = b"") -> bytes:
    """``base`` with ``header`` and ``page`` written after its pages, and every
    column chunk's first data and dictionary page (and every OffsetIndex
    page location) moved to it."""
    meta = pm.read_footer(base)
    (flen,) = struct.unpack_from("<I", base, len(base) - 8)
    body = bytearray(base[: len(base) - 8 - flen])
    at = len(body)
    body += _thrift(header) + page
    for rg in meta[4]:
        for cc in rg[1]:
            cc[3][9] = at
            if 11 in cc[3]:
                cc[3][11] = at
            if 4 in cc:
                oi = pm._read_struct(pm._Reader(base, cc[4], cc[4] + cc[5]))
                for loc in oi[1]:
                    loc[1] = at
                enc = _thrift(oi)
                cc[4], cc[5] = len(body), len(enc)
                body += enc
    foot = _thrift(meta)
    return bytes(body + foot + struct.pack("<I", len(foot)) + b"PAR1")


_DATA_PAGE = {1: 0, 2: 16, 5: {1: 2, 2: 0, 3: 3, 4: 3}}

CASES = {
    "truncated": lambda b: b[: len(b) // 2],
    "footer_len_past_start": lambda b: (
        b[:-8] + struct.pack("<I", len(b)) + b"PAR1"
    ),
    "nested_struct_bomb": lambda b: (
        b"PAR1" + b"\x1c" * 3000 + struct.pack("<I", 3000) + b"PAR1"
    ),
    "page_without_size": lambda b: _with_first_page(b, _DATA_PAGE),
    "page_past_eof": lambda b: (
        _with_first_page(b, {**_DATA_PAGE, 3: 1 << 20})
    ),
    "two_byte_page": lambda b: (
        _with_first_page(b, {**_DATA_PAGE, 2: 2, 3: 2}, b"\x02\x00")
    ),
}
_PAGE_CASES = {"page_without_size", "page_past_eof", "two_byte_page"}


@pytest.mark.parametrize("case", list(CASES))
@pytest.mark.parametrize(
    "name,make,walk,reads_pages", WALKERS, ids=[w[0] for w in WALKERS]
)
def test_hostile_parquet_is_refused(name, make, walk, reads_pages, case):
    if case in _PAGE_CASES and not reads_pages:
        pytest.skip("walker reads the footer only")
    base = make()
    assert walk(base) is not None, "the base fixture must be readable"
    bad = CASES[case](base)
    t0 = time.perf_counter()
    try:
        got = walk(bad)
    except ValueError:
        got = None
    assert got is None
    assert time.perf_counter() - t0 < 5.0


def test_thrift_nesting_is_capped():
    bomb = b"\x1c" * 3000
    with pytest.raises(ValueError, match="nesting"):
        pm._read_struct(pm._Reader(bomb, 0, len(bomb)))


def test_read_page_refuses_what_no_walker_may_read():
    """A negative offset, a negative or oversized compressed size and a
    CRC mismatch are refused by the core, before any walker rule."""
    base = pm._make_parquet(1)  # written with page CRCs
    pos = pm.column_chunk(pm.read_footer(base)[4][0], [b"k"])[9]
    ph, page, end = pm.read_page(base, pos, None)
    assert isinstance(ph.get(4), int) and pos < end - len(page)
    assert pm.read_page(base, -1, None) is None
    for bad in ({**ph, 3: -1}, {**ph, 3: len(base)}, {**ph, 4: ph[4] ^ 1}):
        hdr = _thrift(bad)
        assert pm.read_page(hdr + page, 0, None) is None
    assert pm.read_page(_thrift(ph) + page, 0, None)[1] == page


def _count_bomb(base: bytes) -> bytes:
    """``base`` whose first data page (of the walker's own page type)
    claims 10^6 values in one 4-byte RLE run of definition levels, far
    past its column chunk's num_values."""
    meta = pm.read_footer(base)
    first = min(cc[3].get(11, cc[3][9]) for rg in meta[4] for cc in rg[1])
    ph, _, after = pm.read_page(base, first, None)
    if ph.get(1) == 2:  # a dictionary page leads: take the data page after it
        ph, _, _ = pm.read_page(base, after, None)
    levels = _enc_uvarint(2 * 10**6) + b"\x01"  # run of 10^6 ones
    if ph.get(1) == 3:  # DATA_PAGE_V2: level lengths live in the header
        body = levels
        hdr = {1: 3, 2: len(body), 3: len(body),
               8: {**ph[8], 1: 10**6, 3: 10**6, 5: len(levels), 6: 0}}
    else:
        body = struct.pack("<I", len(levels)) + levels
        hdr = {1: 0, 2: len(body), 3: len(body), 5: {**ph[5], 1: 10**6}}
    return _with_first_page(base, hdr, body)


@pytest.mark.parametrize(
    "name,make,walk",
    [w[:3] for w in WALKERS if w[3]],
    ids=[w[0] for w in WALKERS if w[3]],
)
def test_page_count_bomb_is_refused_before_levels(name, make, walk):
    """A data page claiming more values than its column chunk has left is
    refused by ``read_page`` before a level is decoded, so the walk
    allocates nothing near the 10^6 values the page claims."""
    import tracemalloc

    bad = _count_bomb(make())
    tracemalloc.start()
    try:
        try:
            got = walk(bad)
        except ValueError:
            got = None
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert got is None
    assert peak < 1 << 20


def test_read_page_checks_the_chunk_count():
    base = pm._make_parquet(1)
    chunk = pm.column_chunk(pm.read_footer(base)[4][0], [b"k"])
    ph, page, _ = pm.read_page(base, chunk[9], chunk[5])
    pn = ph[5][1]
    for remaining, ok in ((pn, True), (pn - 1, False), (None, True)):
        assert (pm.read_page(base, chunk[9], remaining) is not None) is ok
    for bad in (-1, b"x"):
        hdr = _thrift({**ph, 5: {**ph[5], 1: bad}})
        assert pm.read_page(hdr + page, 0, pn) is None
