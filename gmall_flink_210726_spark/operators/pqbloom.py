"""Parquet split-block bloom filters (SBBF) — the third and last
data-skipping layer beside row-group min/max stats (L192) and the
page index (L222): the footer's ``bloom_filter_offset`` /
``bloom_filter_length`` point at a BloomFilterHeader (Thrift compact)
plus a bitset of 32-byte blocks, probed with XXH64(plain-encoded
value, seed 0). Point lookups open ONLY row groups whose filter
might contain the key — the pruning min/max can't do when every
group spans the full value range.

Everything here is from the public parquet-format spec
(BloomFilter.md + parquet.thrift) and the xxHash spec:

- ``xxh64`` — the 64-bit xxHash from scratch (shared with zstd.py,
  whose frame checksum it is). Pinned against Spark's JVM
  ``xxhash64`` (seed 42) and the reference vectors (seed 0) in tests.
- SBBF: block index = ``((h >> 32) * nblocks) >> 32`` (the
  multiply-shift range reduction), then the low 32 hash bits pick
  one bit in each of the block's eight 32-bit words via the eight
  SALT odd constants (``mask_i = 1 << ((h32 * SALT_i) >> 27)``).
- A hand Thrift-compact WRITER (the reader half has lived in
  parquetmeta.py since round 6) renders a complete parquet file —
  schema, PLAIN INT64 data pages, per-chunk bloom sections,
  FileMetaData — because pyarrow 16 cannot write bloom filters yet.
  The writer is validated by pyarrow reading the file back
  bit-exact in tests.

Trust chain: a bloom filter may return false POSITIVES (harmless:
the group is read and the lookup just misses) but NEVER false
negatives. The walk therefore re-probes EVERY decoded value of every
group it opens against that group's own filter — a planted lie that
zeroes one value's bits is caught the moment the group is read, per
the parquet contract that the filter covers all values written. A
``bloom_filter_length`` that disagrees with the parsed header +
``numBytes`` is refused before the bitset is trusted.

Scale: per-blob stateless (Arrow-batched ``mapInPandas``); on a real
100 TB table the same probe runs against footer metadata only —
bytes-read scales with matching groups, not table size.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.parquetmeta import (
    _Reader,
    _read_struct,
    column_chunk,
    read_footer,
    read_page,
    required_values,
)
from gmall_flink_210726_spark.operators.wire import _enc_uvarint, _zz_enc
from gmall_flink_210726_spark.operators.zstd import xxh64

# ----------------------------------------------- split-block filter

_SALT = (
    0x47B6137B,
    0x44974D91,
    0x8824AD5B,
    0xA2B7289D,
    0x705495C7,
    0x2DF1424B,
    0x9EFC4947,
    0x5C6BFB31,
)


def _block_masks(h: int) -> tuple[int, list[int]]:
    """(block index factor, the 8 per-word bit masks) for hash h —
    caller multiplies the high 32 bits by nblocks."""
    h32 = h & 0xFFFFFFFF
    return h >> 32, [
        1 << (((h32 * s) & 0xFFFFFFFF) >> 27) for s in _SALT
    ]


def sbbf_insert(bitset: bytearray, h: int) -> None:
    nblocks = len(bitset) // 32
    hi, masks = _block_masks(h)
    base = ((hi * nblocks) >> 32) * 32
    for w, m in enumerate(masks):
        (word,) = struct.unpack_from("<I", bitset, base + 4 * w)
        struct.pack_into("<I", bitset, base + 4 * w, word | m)


def sbbf_check(bitset: bytes, h: int) -> bool:
    nblocks = len(bitset) // 32
    hi, masks = _block_masks(h)
    base = ((hi * nblocks) >> 32) * 32
    for w, m in enumerate(masks):
        (word,) = struct.unpack_from("<I", bitset, base + 4 * w)
        if not word & m:
            return False
    return True


def _h_int64(v: int) -> int:
    """Parquet hashes the value's PLAIN encoding: INT64 = 8-byte LE."""
    return xxh64(struct.pack("<q", v), 0)


def _h_bytes(v: bytes) -> int:
    """BYTE_ARRAY hashes the raw bytes (no length prefix) per the
    parquet bloom spec."""
    return xxh64(v, 0)


def _h_value(v) -> int:
    return _h_bytes(v) if isinstance(v, bytes) else _h_int64(v)


# ------------------------------------- Thrift compact WRITER (min.)

_T_I32 = 5
_T_I64 = 6
_T_BINARY = 8
_T_LIST = 9
_T_STRUCT = 12


def _binary(b: bytes) -> bytes:
    return _enc_uvarint(len(b)) + b


def _tlist(etype: int, elems: list[bytes]) -> bytes:
    n = len(elems)
    head = (
        bytes([(n << 4) | etype])
        if n < 15
        else bytes([0xF0 | etype]) + _enc_uvarint(n)
    )
    return head + b"".join(elems)


def _tstruct(items: list[tuple[int, int, bytes]]) -> bytes:
    """Render a struct from (field-id, type, payload) triples —
    ascending field ids, short-form deltas when they fit."""
    out = bytearray()
    last = 0
    for fid, ftype, payload in items:
        delta = fid - last
        if 1 <= delta <= 15:
            out.append((delta << 4) | ftype)
        else:
            out.append(ftype)
            out += _zz_enc(fid)
        out += payload
        last = fid
    out.append(0)
    return bytes(out)


def _empty_union(member: int = 1) -> bytes:
    """A Thrift union holding an empty struct at ``member`` — the
    shape of SplitBlockAlgorithm / XxHash / Uncompressed."""
    return _tstruct([(member, _T_STRUCT, _tstruct([]))])


def make_bloom_section(values: list, nblocks: int) -> bytes:
    """BloomFilterHeader + bitset for a chunk of INT64 or BYTE_ARRAY
    values."""
    bitset = bytearray(32 * nblocks)
    for v in values:
        sbbf_insert(bitset, _h_value(v))
    header = _tstruct(
        [
            (1, _T_I32, _zz_enc(32 * nblocks)),
            (2, _T_STRUCT, _empty_union()),
            (3, _T_STRUCT, _empty_union()),
            (4, _T_STRUCT, _empty_union()),
        ]
    )
    return header + bytes(bitset)


def _data_page(values: list) -> bytes:
    """PageHeader + v1 page body: <u32 dlen> RLE def-levels (all 1,
    the OPTIONAL-column shape every hand parquet fixture uses) then
    PLAIN values — little-endian int64s, or length-prefixed
    BYTE_ARRAYs."""
    n = len(values)
    levels = _enc_uvarint(n << 1) + b"\x01"  # one RLE run of 1s
    if values and isinstance(values[0], bytes):
        payload = b"".join(
            struct.pack("<I", len(v)) + v for v in values
        )
    else:
        payload = struct.pack(f"<{n}q", *values)
    body = struct.pack("<I", len(levels)) + levels + payload
    dph = _tstruct(
        [
            (1, _T_I32, _zz_enc(n)),
            (2, _T_I32, _zz_enc(0)),  # PLAIN
            (3, _T_I32, _zz_enc(3)),  # RLE def levels
            (4, _T_I32, _zz_enc(3)),  # RLE rep levels
        ]
    )
    header = _tstruct(
        [
            (1, _T_I32, _zz_enc(0)),  # DATA_PAGE
            (2, _T_I32, _zz_enc(len(body))),
            (3, _T_I32, _zz_enc(len(body))),
            (5, _T_STRUCT, dph),
        ]
    )
    return header + body


def write_parquet_bloom(
    groups: list[list[int]],
    nblocks: int,
    len_lie_group: int | None = None,
    clear_value: tuple[int, int] | None = None,
    keep_value: int | None = None,
) -> bytes:
    """A complete parquet file — one OPTIONAL INT64 column ``k``,
    one row group per entry of ``groups``, each chunk carrying an
    SBBF bloom filter — rendered entirely by the hand Thrift writer.

    ``len_lie_group`` inflates that group's declared
    bloom_filter_length by one (the header/numBytes cross-check must
    refuse). ``clear_value=(g, v)`` zeroes one of value v's bits in
    group g's bitset — the false-negative lie the in-group re-probe
    must catch when the group is read — choosing a bit ``keep_value``
    does NOT use, so the probe key still opens the group and walks
    into the lie."""
    out = bytearray(b"PAR1")
    page_info = []  # (offset, size, n)
    for vals in groups:
        page = _data_page(vals)
        page_info.append((len(out), len(page), len(vals)))
        out += page
    bloom_info = []  # (offset, length)
    for g, vals in enumerate(groups):
        section = bytearray(make_bloom_section(vals, nblocks))
        if clear_value is not None and clear_value[0] == g:
            hv = _h_value(clear_value[1])
            hi, masks = _block_masks(hv)
            base = ((hi * nblocks) >> 32) * 32
            w = 0
            if keep_value is not None:
                hk = _h_value(keep_value)
                ki, kmasks = _block_masks(hk)
                if ((ki * nblocks) >> 32) * 32 == base:
                    # pick a word where the victim sets a bit the
                    # probe key does not; if every word coincides
                    # (astronomically unlikely but possible for an
                    # unlucky id), there is no distinguishing bit —
                    # skip the lie rather than crash synthesis
                    w = next(
                        (
                            j
                            for j in range(8)
                            if masks[j] & ~kmasks[j]
                        ),
                        None,
                    )
            if w is not None:
                hdr_len = len(section) - 32 * nblocks
                off = hdr_len + base + 4 * w
                (word,) = struct.unpack_from("<I", section, off)
                struct.pack_into("<I", section, off, word & ~masks[w])
        length = len(section)
        if len_lie_group is not None and len_lie_group == g:
            length += 1
        bloom_info.append((len(out), length))
        out += section
    ptype = 6 if groups and groups[0] and isinstance(
        groups[0][0], bytes
    ) else 2
    schema = _tlist(
        _T_STRUCT,
        [
            _tstruct(
                [
                    (4, _T_BINARY, _binary(b"schema")),
                    (5, _T_I32, _zz_enc(1)),
                ]
            ),
            _tstruct(
                [
                    (1, _T_I32, _zz_enc(ptype)),  # INT64 / BYTE_ARRAY
                    (3, _T_I32, _zz_enc(1)),  # OPTIONAL
                    (4, _T_BINARY, _binary(b"k")),
                ]
            ),
        ],
    )
    row_groups = []
    for (poff, psize, n), (boff, blen) in zip(page_info, bloom_info):
        cmeta = _tstruct(
            [
                (1, _T_I32, _zz_enc(ptype)),
                (2, _T_LIST, _tlist(_T_I32, [_zz_enc(0), _zz_enc(3)])),
                (3, _T_LIST, _tlist(_T_BINARY, [_binary(b"k")])),
                (4, _T_I32, _zz_enc(0)),  # UNCOMPRESSED
                (5, _T_I64, _zz_enc(n)),
                (6, _T_I64, _zz_enc(psize)),
                (7, _T_I64, _zz_enc(psize)),
                (9, _T_I64, _zz_enc(poff)),
                (14, _T_I64, _zz_enc(boff)),
                (15, _T_I32, _zz_enc(blen)),
            ]
        )
        chunk = _tstruct(
            [(2, _T_I64, _zz_enc(poff)), (3, _T_STRUCT, cmeta)]
        )
        row_groups.append(
            _tstruct(
                [
                    (1, _T_LIST, _tlist(_T_STRUCT, [chunk])),
                    (2, _T_I64, _zz_enc(psize)),
                    (3, _T_I64, _zz_enc(n)),
                ]
            )
        )
    footer = _tstruct(
        [
            (1, _T_I32, _zz_enc(1)),
            (2, _T_LIST, schema),
            (3, _T_I64, _zz_enc(sum(n for _, _, n in page_info))),
            (4, _T_LIST, _tlist(_T_STRUCT, row_groups)),
            (6, _T_BINARY, _binary(b"pqbloom-hand-writer")),
        ]
    )
    out += footer
    out += struct.pack("<I", len(footer)) + b"PAR1"
    return bytes(out)


# ---------------------------------------------------------- the walk


def _read_group_values(
    data: bytes, off: int, n_vals: int, ptype: int = 2
) -> list | None:
    """One chunk's PLAIN page walk (v1 pages, def levels all 1) —
    INT64 or BYTE_ARRAY; the same contract read_parquet_column_k
    enforces."""
    got = 0
    pos = off
    values: list = []
    while got < n_vals:
        got_page = read_page(data, pos, n_vals - got)
        if got_page is None:
            return None
        ph, page, pos = got_page
        if ph.get(1) != 0:
            return None
        dph = ph.get(5)
        if not isinstance(dph, dict) or dph.get(2) != 0:
            return None
        pn = dph.get(1)
        vals = required_values(page, pn)
        if vals is None:
            return None
        if ptype == 2:
            if len(vals) != 8 * pn:
                return None
            values.extend(struct.unpack_from(f"<{pn}q", vals, 0))
        else:  # BYTE_ARRAY: <u32 len><bytes> each
            bp = 0
            for _ in range(pn):
                if bp + 4 > len(vals):
                    return None
                (sl,) = struct.unpack_from("<I", vals, bp)
                bp += 4
                if bp + sl > len(vals):
                    return None
                values.append(vals[bp : bp + sl])
                bp += sl
            if bp != len(vals):
                return None
        got += pn
    return values if got == n_vals else None


def read_parquet_bloom_lookup(
    data: bytes, q, ptype: int = 2
) -> dict | None:
    """Point lookup of ``q`` through the bloom-filter skipping stack:
    footer -> per row group read the SBBF section (header parse,
    length cross-check), probe q — open ONLY maybe-groups, decode
    their pages, and re-probe every decoded value against the
    group's own filter (false negatives are a spec violation; a
    planted lie must degrade)."""
    meta = read_footer(data)
    if meta is None:
        return None
    num_rows, row_groups = meta[3], meta[4]
    hq = _h_value(q)
    n_groups = n_maybe = n_found = 0
    found_group = -1
    k_sum_read = 0
    total = 0
    for g, rg in enumerate(row_groups):
        cm = column_chunk(rg, [b"k"])
        if cm is None or len(rg[1]) != 1:
            return None
        if cm.get(1) != ptype or cm.get(4) != 0:
            return None
        n_vals = cm.get(5)
        off = cm.get(9)
        bf_off = cm.get(14)
        bf_len = cm.get(15)
        if not all(
            isinstance(x, int) for x in (n_vals, off, bf_off, bf_len)
        ):
            return None
        try:
            r = _Reader(data, bf_off, len(data))
            hdr = _read_struct(r)
        except ValueError:
            return None
        nbytes = hdr.get(1)
        if not isinstance(nbytes, int) or nbytes <= 0 or nbytes % 32:
            return None
        for fid in (2, 3, 4):  # algorithm / hash / compression unions
            u = hdr.get(fid)
            if not isinstance(u, dict) or 1 not in u:
                return None
        if (r.pos - bf_off) + nbytes != bf_len:
            return None  # declared length disagrees with the header
        bitset = data[r.pos : r.pos + nbytes]
        if len(bitset) != nbytes:
            return None
        n_groups += 1
        total += n_vals
        if not sbbf_check(bitset, hq):
            continue
        n_maybe += 1
        try:
            values = _read_group_values(data, off, n_vals, ptype)
        except ValueError:
            return None
        if values is None:
            return None
        for v in values:
            if not sbbf_check(bitset, _h_value(v)):
                return None  # false negative: the filter lied
        hits = sum(1 for v in values if v == q)
        if hits and found_group < 0:
            found_group = g
        n_found += hits
        k_sum_read += (
            sum(len(v) for v in values)
            if ptype == 6
            else sum(values)
        )
    if total != num_rows:
        return None
    return {
        "n_groups": n_groups,
        "n_maybe": n_maybe,
        "n_skipped": n_groups - n_maybe,
        "n_found": n_found,
        "found_group": found_group,
        "k_sum_read": k_sum_read,
    }


PQBLOOM_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_groups", LongType()),
        StructField("n_maybe", LongType()),
        StructField("n_skipped", LongType()),
        StructField("n_found", LongType()),
        StructField("found_group", LongType()),
        StructField("k_sum_read", LongType()),
    ]
)


def _bloom_params(i: int) -> tuple[int, int, int, bool]:
    """(n groups, blocks per filter, probe value, present) for doc i
    — shared by the fixture, the walk batch, and (re-derived in SQL)
    the oracle. Values of group g are ``(g + j*G) * 1000 + i`` for
    j in 0..23, so every group spans the full range (min/max stats
    could never skip) while the bloom can."""
    g = 2 + i % 3
    nb = 2 + (i // 3) % 3
    qr = i % (24 * g) if i % 9 == 0 else i % 137
    return g, nb, qr * 1000 + i, qr < 24 * g


def _make_parquet_bloom(i: int) -> bytes:
    g, nb, _q, _present = _bloom_params(i)
    groups = [
        [(gg + j * g) * 1000 + i for j in range(24)] for gg in range(g)
    ]
    len_lie = 0 if i % 7 == 0 else None
    clear = None
    if i % 9 == 0:
        qr = (i % (24 * g)) % g  # the group the probe will open
        victim = next(v for v in groups[qr] if v != _q)
        clear = (qr, victim)
    return write_parquet_bloom(
        groups,
        nb,
        len_lie_group=len_lie,
        clear_value=clear,
        keep_value=_q,
    )


def synthesize_parquet_bloom_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of hand-written bloom-bearing parquet."""
    return synthesize_blobs(docs, _make_parquet_bloom, blob_meta("parquet"))


def parquet_bloom_stats(df: DataFrame) -> DataFrame:
    """Bloom-gated point lookups over MEDIA_SCHEMA parquet blobs."""
    return blob_stats(
        df,
        lambda b, mid: read_parquet_bloom_lookup(b, _bloom_params(mid)[2]),
        PQBLOOM_SCHEMA,
        "parquet",
        defaults={"found_group": -1},
        by_id=True,
    )


# ------------------------------------------------ BYTE_ARRAY variant
# The URL/doc-key point lookup: string columns have no useful min/max
# at all for high-cardinality keys, so the bloom is the ONLY skipping
# layer. Hash input is the raw bytes (no length prefix) per the
# parquet bloom spec; pinned against parquet-mr-written string blooms
# in tests.


def _bloom_str_params(i: int) -> tuple[int, int, bytes, bool]:
    """(n groups, blocks, probe key, present) for doc i — group gg
    holds the 24 keys ``doc/<i>/<gg + j*G>``."""
    g = 2 + i % 3
    nb = 3 + (i // 3) % 3  # sized FP-free over the driver id range
    qr = i % (24 * g) if i % 9 == 0 else i % 137
    return g, nb, f"doc/{i}/{qr}".encode("ascii"), qr < 24 * g


def _make_parquet_bloom_str(i: int) -> bytes:
    g, nb, q, _present = _bloom_str_params(i)
    groups = [
        [f"doc/{i}/{gg + j * g}".encode("ascii") for j in range(24)]
        for gg in range(g)
    ]
    len_lie = 0 if i % 7 == 0 else None
    clear = None
    if i % 9 == 0:
        qg = (i % (24 * g)) % g
        victim = next(v for v in groups[qg] if v != q)
        clear = (qg, victim)
    return write_parquet_bloom(
        groups,
        nb,
        len_lie_group=len_lie,
        clear_value=clear,
        keep_value=q,
    )


# Bloom false positives are legal and DO occur at this fixture's
# scale (one measured in 5000 ids), so the oracled output carries
# only FP-independent fields; skip behavior is pinned in pytest.
PQBLOOMSTR_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_groups", LongType()),
        StructField("n_found", LongType()),
        StructField("found_group", LongType()),
    ]
)


def synthesize_parquet_bloom_str_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of string-keyed bloom parquet files."""
    return synthesize_blobs(docs, _make_parquet_bloom_str, blob_meta("parquet"))


def parquet_bloom_str_stats(df: DataFrame) -> DataFrame:
    """Bloom-gated string-key lookups over MEDIA_SCHEMA blobs; the
    FP-dependent n_maybe / n_skipped / k_sum_read stay out of the row
    (not oracled)."""
    return blob_stats(
        df,
        lambda b, mid: read_parquet_bloom_lookup(
            b, _bloom_str_params(mid)[2], ptype=6
        ),
        PQBLOOMSTR_SCHEMA,
        "parquet",
        defaults={"found_group": -1},
        by_id=True,
    )
