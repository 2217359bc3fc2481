"""ORC depth, round 12: DECIMAL and TIMESTAMP columns (what real
warehouse ORC mostly holds) and the stripe ROW_INDEX — ORC's twin of
the parquet page index (L222): per-10k-row entries carrying seek
POSITIONS into the encoded streams plus per-stride statistics that
let a reader skip inside a stripe.

All from the public Apache ORC v1 specification, on top of the
round-11 walkers in ``operators/orc.py`` (generic protobuf walk,
RLEv2 all four sub-encodings, compressed-stream unframing through
the repo's hand codecs):

- DECIMAL (DIRECT_V2): DATA = one unbounded zigzag varint mantissa
  per value (NOT run-length encoded), SECONDARY = RLEv2 signed
  scales. Cross-check: every scale equals the type's declared scale,
  exact stream consumption, and the footer DecimalStatistics
  min/max/sum STRINGS must equal the decoded values rendered with
  ORC's trailing-zero-trimmed formatting.
- TIMESTAMP (DIRECT_V2): DATA = RLEv2 signed seconds relative to the
  ORC epoch 2015-01-01 00:00:00 UTC; SECONDARY = RLEv2 unsigned
  nanos with the trailing-zero trick (bottom 3 bits = removed zeros
  - 1; decode multiplies by 10^(bits+1) — pinned against the real
  writer). Cross-check: TimestampStatistics minimumUtc/maximumUtc
  milliseconds vs the decoded min/max.
- ROW_INDEX (stream kind 6): RowIndex -> RowIndexEntry(positions,
  statistics) every rowIndexStride rows. POSITIONS for an
  uncompressed RLEv2 stream are (byte offset of the run containing
  the row, values to skip inside that run) — the walk re-derives
  every run boundary from its own decode and demands every entry's
  positions land exactly on one (a lying seek pointer desyncs a real
  reader silently; here it degrades). Stride selection uses the
  entries' IntegerStatistics; every SELECTED stride's decoded
  min/max must equal the claimed bounds — an inflated-max lie
  planted in the first selected stride (a pruned stride could lie
  forever) is caught the moment the stride is read.

Fixtures are REAL pyarrow.orc writes; the lie patchers re-encode the
RowIndex protobuf in place with length-preserving varint edits so
the file stays structurally valid and only the books are cooked.
Arrow-batched ``mapInPandas``; per-blob stateless.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.orc import (
    _COMP_NAMES,
    _pb_fields,
    _rle_v2,
    _svarints,
    _unframe,
)
from gmall_flink_210726_spark.operators.wire import (
    _enc_uvarint,
    _zz_enc,
    unzigzag,
    uvarint,
    uvarints,
)

_ORC_EPOCH = 1420070400  # 2015-01-01T00:00:00Z


def _dec_str(mant: int, scale: int) -> str:
    """ORC's decimal-statistics rendering: trailing zeros after the
    point trimmed, bare integer when nothing remains ('191.9',
    '19.19', '0', '-3.5')."""
    sign = "-" if mant < 0 else ""
    digits = str(abs(mant)).rjust(scale + 1, "0")
    ip = digits[:-scale] if scale else digits
    fp = digits[-scale:].rstrip("0") if scale else ""
    return sign + ip + ("." + fp if fp else "")


def _parse_nanos(v: int) -> int:
    """The SECONDARY-stream trailing-zero encoding (pinned against
    pyarrow's writer): bottom 3 bits = removed zeros - 1."""
    zeros = v & 7
    out = v >> 3
    if zeros:
        out *= 10 ** (zeros + 1)
    return out


def _walk_footer(data: bytes) -> tuple[dict, int] | None:
    """Postscript + footer walk shared by both readers -> (footer
    fields, compression kind)."""
    if len(data) < 16 or data[:3] != b"ORC":
        return None
    try:
        ps_len = data[-1]
        if ps_len <= 0 or 1 + ps_len > len(data):
            return None
        ps = _pb_fields(data[-1 - ps_len : -1])
        if ps.get(8000) != [b"ORC"]:
            return None
        flen = ps.get(1, [None])[0]
        comp = ps.get(2, [0])[0]
        if not isinstance(flen, int) or comp not in _COMP_NAMES:
            return None
        foot_at = len(data) - 1 - ps_len - flen
        if foot_at < 3:
            return None
        footer = _pb_fields(
            _unframe(data[foot_at : foot_at + flen], comp)
        )
        return footer, comp
    except (ValueError, IndexError, TypeError):
        return None


def _stripe_streams(
    data: bytes, st: dict, comp: int
) -> tuple[dict, dict, int] | None:
    """One stripe's footer -> ({(kind, col): raw bytes}, encodings,
    rows)."""
    try:
        off, ilen, dlen, sflen, rows = (
            st[k][0] for k in (1, 2, 3, 4, 5)
        )
    except KeyError:
        return None
    if off + ilen + dlen + sflen > len(data):
        return None
    sf = _pb_fields(
        _unframe(data[off + ilen + dlen : off + ilen + dlen + sflen], comp)
    )
    encs = {
        c: _pb_fields(e).get(1, [0])[0] if e else 0
        for c, e in enumerate(sf.get(2, []))
    }
    streams: dict[tuple[int, int], bytes] = {}
    pos = off
    for sb in sf.get(1, []):
        sd = _pb_fields(sb)
        kind = sd.get(1, [0])[0]
        col = sd.get(2, [0])[0]
        ln = sd.get(3, [0])[0]
        streams[(kind, col)] = data[pos : pos + ln]
        pos += ln
    if pos != off + ilen + dlen:
        return None  # stream lengths must tile index+data exactly
    return streams, encs, rows


# ------------------------------------------------- DECIMAL+TIMESTAMP


def read_orc_dec_ts(data: bytes) -> dict | None:
    """Full read of a (d DECIMAL(p,s), t TIMESTAMP) ORC file with
    the module-doc cross-checks; None on any violation."""
    walked = _walk_footer(data)
    if walked is None:
        return None
    footer, comp = walked
    num_rows = footer.get(6, [None])[0]
    stripes = footer.get(3, [])
    types = footer.get(4, [])
    stats = footer.get(7, [])
    if not isinstance(num_rows, int) or not stripes or len(types) != 3:
        return None
    try:
        t0 = _pb_fields(types[0])
        t1 = _pb_fields(types[1])
        t2 = _pb_fields(types[2])
    except ValueError:
        return None
    if t0.get(1, [None])[0] != 12:  # root struct
        return None
    if t1.get(1, [None])[0] != 14:  # DECIMAL
        return None
    if t2.get(1, [None])[0] != 9:  # TIMESTAMP
        return None
    scale = t1.get(6, [None])[0]
    precision = t1.get(5, [None])[0]
    if not isinstance(scale, int) or not isinstance(precision, int):
        return None
    mants: list[int] = []
    total_ns: list[int] = []
    n_stripes = 0
    try:
        for s in stripes:
            got = _stripe_streams(data, _pb_fields(s), comp)
            if got is None:
                return None
            streams, encs, rows = got
            if encs.get(1) != 2 or encs.get(2) != 2:  # DIRECT_V2
                return None
            body = _unframe(streams.get((1, 1), b""), comp)
            vals, pos = _svarints(body, rows)
            mants.extend(vals)
            if pos != len(body):
                return None  # mantissa varints must consume exactly
            scales, _ = _rle_v2(
                _unframe(streams.get((5, 1), b""), comp), rows, True
            )
            if any(sc != scale for sc in scales):
                return None
            secs, _ = _rle_v2(
                _unframe(streams.get((1, 2), b""), comp), rows, True
            )
            nraw, _ = _rle_v2(
                _unframe(streams.get((5, 2), b""), comp), rows, False
            )
            for sec, nr in zip(secs, nraw):
                ns = _parse_nanos(nr)
                if not 0 <= ns <= 999_999_999:
                    return None
                total_ns.append((_ORC_EPOCH + sec) * 10**9 + ns)
            n_stripes += 1
    except (ValueError, IndexError, TypeError):
        return None
    if len(mants) != num_rows or len(total_ns) != num_rows:
        return None
    bound = 10**precision
    if any(abs(m) >= bound for m in mants):
        return None
    # ---- footer statistics: the writer's books vs our decode
    if len(stats) != 3:
        return None
    ds = _pb_fields(stats[1])
    dec = _pb_fields(ds.get(6, [b""])[0]) if 6 in ds else {}
    if ds.get(1, [None])[0] != num_rows:
        return None
    dmin = dec.get(1, [b""])[0]
    dmax = dec.get(2, [b""])[0]
    dsum = dec.get(3, [b""])[0]
    if (
        dmin != _dec_str(min(mants), scale).encode("ascii")
        or dmax != _dec_str(max(mants), scale).encode("ascii")
        or dsum != _dec_str(sum(mants), scale).encode("ascii")
    ):
        return None
    ts_stats = _pb_fields(stats[2])
    tst = _pb_fields(ts_stats.get(9, [b""])[0]) if 9 in ts_stats else {}
    min_ms = min(total_ns) // 10**6
    max_ms = max(total_ns) // 10**6
    if 3 in tst and unzigzag(tst[3][0]) != min_ms:
        return None
    if 4 in tst and unzigzag(tst[4][0]) != max_ms:
        return None
    return {
        "n_rows": num_rows,
        "n_stripes": n_stripes,
        "scale": scale,
        "dec_sum_mant": sum(mants),
        "dec_min_mant": min(mants),
        "dec_max_mant": max(mants),
        "ts_min_ms": min_ms,
        "ts_max_ms": max_ms,
        "ns_sum": sum(ns % 10**9 for ns in total_ns),
        "compression": _COMP_NAMES[comp],
    }


ORCDEC_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("compression", StringType()),
        StructField("n_rows", LongType()),
        StructField("scale", LongType()),
        StructField("dec_sum_mant", LongType()),
        StructField("dec_min_mant", LongType()),
        StructField("dec_max_mant", LongType()),
        StructField("ts_min_ms", LongType()),
        StructField("ts_max_ms", LongType()),
        StructField("ns_sum", LongType()),
    ]
)

_NANOS_CYCLE = (0, 500_000_000, 123_456_789, 1_000, 250_000_000)


def _dec_ts_rows(i: int, n: int) -> tuple[list[int], list[int], list[int]]:
    """(mantissas, epoch-seconds, nanos) — shared by the fixture and
    (re-derived in SQL) the oracle."""
    mants = [(i * 37 + r * 131) % 100000 - 50000 for r in range(n)]
    secs = [1577836800 + (i + r * 7) % 86400 for r in range(n)]
    nanos = [_NANOS_CYCLE[r % 5] for r in range(n)]
    return mants, secs, nanos


def _make_orc_dec(i: int, bad_stripe: int = 23) -> bytes:
    """REAL pyarrow.orc file: (d DECIMAL(12,2), t TIMESTAMP[ns]),
    ``1500 + (i%4)*400`` rows, 4 KiB stripes, compression rotating by
    id. Every ``bad_stripe``-th id flips a byte inside the first
    stripe's data region — caught by codec grammar, varint/RLE
    grammar, or the statistics books."""
    import io

    import pyarrow as pa
    import pyarrow.orc as orc_mod

    n = 1500 + (i % 4) * 400
    # vectorized twin of _dec_ts_rows (optimization round 14, guide
    # §4.2; byte-identity of the written file against the list-based
    # construction is pinned in tests/test_codec_fastpaths.py): the
    # decimal128(12,2) array is built straight from the int64 unscaled
    # mantissas as 16-byte little-endian two's-complement pairs —
    # skipping the per-row decimal.Decimal objects
    r = np.arange(n, dtype=np.int64)
    mants = (i * 37 + r * 131) % 100000 - 50000
    secs = 1577836800 + (i + r * 7) % 86400
    nanos = np.array(_NANOS_CYCLE, dtype=np.int64)[r % 5]
    lohi = np.empty((n, 2), dtype="<i8")
    lohi[:, 0] = mants
    lohi[:, 1] = mants >> 63
    dec_arr = pa.Array.from_buffers(
        pa.decimal128(12, 2), n, [None, pa.py_buffer(lohi.tobytes())]
    )
    # raw int64 nanoseconds — a datetime round-trip would quantize
    # the 123456789-ns rows to microseconds
    ts_arr = pa.array(secs * 10**9 + nanos, pa.timestamp("ns"))
    comp = ("uncompressed", "zlib", "snappy", "zstd", "lz4")[i % 5]
    buf = io.BytesIO()
    orc_mod.write_table(
        pa.table({"d": dec_arr, "t": ts_arr}),
        buf,
        compression=comp,
        stripe_size=4096,
        batch_size=256,  # flush small batches -> several stripes
    )
    blob = bytearray(buf.getvalue())
    if i % bad_stripe == 0:
        data = bytes(blob)
        ps_len = data[-1]
        ps = _pb_fields(data[-1 - ps_len : -1])
        flen, ck = ps[1][0], ps.get(2, [0])[0]
        foot = _pb_fields(
            _unframe(
                data[len(data) - 1 - ps_len - flen : -1 - ps_len], ck
            )
        )
        st = _pb_fields(foot[3][0])
        blob[st[1][0] + st[2][0] + 9] ^= 0x55
    return bytes(blob)


def synthesize_orc_dec_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of real decimal+timestamp ORC files."""
    return synthesize_blobs(docs, _make_orc_dec, blob_meta("orc"), partitions)


def orc_dec_stats(df: DataFrame) -> DataFrame:
    """Decimal+timestamp ORC read over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_orc_dec_ts, ORCDEC_SCHEMA, "orc")


# --------------------------------------------------------- ROW_INDEX


def _parse_row_index(raw: bytes) -> list[dict]:
    """RowIndex -> [{'positions': [...], 'min': .., 'max': ..,
    'n': ..}] for an integer column."""
    msg = _pb_fields(raw)
    entries = []
    for e in msg.get(1, []):
        ent = _pb_fields(e)
        stats = _pb_fields(ent.get(2, [b""])[0]) if 2 in ent else {}
        ist = _pb_fields(stats.get(2, [b""])[0]) if 2 in stats else {}
        entries.append(
            {
                "positions": uvarints(ent.get(1, [b""])[0]),
                "n": stats.get(1, [None])[0],
                "min": unzigzag(ist.get(1, [0])[0]),
                "max": unzigzag(ist.get(2, [0])[0]),
            }
        )
    return entries


def read_orc_rowindex(data: bytes, lo: int, hi: int) -> dict | None:
    """Predicate-skipping read of a one-LONG-column ORC file through
    the stripe ROW_INDEX (module doc): positions proven against the
    decoder's own run boundaries for EVERY entry, stride selection
    from entry statistics, and decoded min/max of every SELECTED
    stride must equal the claimed bounds."""
    walked = _walk_footer(data)
    if walked is None:
        return None
    footer, comp = walked
    if comp != 0:
        return None  # positions are 2-tuples only when uncompressed
    num_rows = footer.get(6, [None])[0]
    stride = footer.get(8, [None])[0]
    stripes = footer.get(3, [])
    types = footer.get(4, [])
    if (
        not isinstance(num_rows, int)
        or not isinstance(stride, int)
        or stride <= 0
        or not stripes
        or len(types) != 2
    ):
        return None
    t1 = _pb_fields(types[1])
    if t1.get(1, [0])[0] != 4:  # LONG
        return None
    n_strides = n_sel = n_match = 0
    match_sum = 0
    total = 0
    try:
        for s in stripes:
            got = _stripe_streams(data, _pb_fields(s), comp)
            if got is None:
                return None
            streams, encs, rows = got
            if encs.get(1) != 2:
                return None
            if (6, 1) not in streams or (1, 1) not in streams:
                return None
            entries = _parse_row_index(streams[(6, 1)])
            if len(entries) != -(-rows // stride):
                return None  # one entry per stride
            runs: list[tuple[int, int]] = []
            vals, _ = _rle_v2(streams[(1, 1)], rows, True, runs=runs)
            run_set = set(runs)
            for k, ent in enumerate(entries):
                r0 = k * stride
                r1 = min(r0 + stride, rows)
                if ent["n"] != r1 - r0:
                    return None
                pos = ent["positions"]
                if len(pos) != 2:
                    return None
                # the claimed seek pointer must land exactly on a
                # run boundary the decode actually produced
                if (pos[0], r0 - pos[1]) not in run_set:
                    return None
                n_strides += 1
                if ent["min"] > hi or ent["max"] < lo:
                    continue  # skipped: never read, never verified
                n_sel += 1
                chunk = vals[r0:r1]
                if min(chunk) != ent["min"] or max(chunk) != ent["max"]:
                    return None  # the stride's books vs our decode
                for v in chunk:
                    if lo <= v <= hi:
                        n_match += 1
                        match_sum += v
            total += rows
    except (ValueError, IndexError, TypeError):
        return None
    if total != num_rows:
        return None
    return {
        "n_rows": num_rows,
        "n_strides": n_strides,
        "n_sel": n_sel,
        "n_skipped": n_strides - n_sel,
        "n_match": n_match,
        "match_sum": match_sum,
    }


ORCIX_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_rows", LongType()),
        StructField("n_strides", LongType()),
        StructField("n_sel", LongType()),
        StructField("n_skipped", LongType()),
        StructField("n_match", LongType()),
        StructField("match_sum", LongType()),
    ]
)


def _rowindex_params(i: int) -> tuple[int, int, int]:
    """(row count, lo, hi) for doc i. Values of stride k live in
    [300k, 300k+250]; the window chases stride ``i % n_strides`` and
    every 280-cycle tail (lo_raw > 250) selects nothing. Lie ids
    pin lo_raw <= 230 so the cooked stride is always read."""
    n = 3000 + 500 * (i % 5)
    n_strides = -(-n // 1000)
    lo_raw = (i * 11) % (230 if i % 19 == 0 else 280)
    s_target = i % n_strides
    return n, 300 * s_target + lo_raw, 300 * s_target + lo_raw + 20


def _same_len_bump(v: int, zig: bool) -> bytes:
    """Re-encode v+delta (delta in 1..63) at the same varint length —
    the length-preserving lie splice."""
    enc = _zz_enc(v) if zig else _enc_uvarint(v)
    for delta in range(1, 64):
        nv = v + delta
        ne = _zz_enc(nv) if zig else _enc_uvarint(nv)
        if len(ne) == len(enc):
            return ne
    raise AssertionError("no same-length bump found")


def _patch_row_index(
    blob: bytearray, lo: int, hi: int, lie_stats: bool, lie_pos: bool
) -> None:
    """Cook the first stripe's column-1 RowIndex in place: inflate
    the first SELECTED stride's claimed max (stats lie) and/or bump
    the second entry's byte-offset position (seek lie). Length-
    preserving varint splices keep the file structurally valid."""
    data = bytes(blob)
    ps_len = data[-1]
    ps = _pb_fields(data[-1 - ps_len : -1])
    flen = ps[1][0]
    foot = _pb_fields(
        _unframe(data[len(data) - 1 - ps_len - flen : -1 - ps_len], 0)
    )
    st = _pb_fields(foot[3][0])
    off, ilen, dlen, sflen = (st[k][0] for k in (1, 2, 3, 4))
    sf = _pb_fields(
        _unframe(data[off + ilen + dlen : off + ilen + dlen + sflen], 0)
    )
    # index streams in stream-list order: kind 6 col 0 then col 1
    pos = off
    ix1_start = ix1_len = None
    for sb in sf.get(1, []):
        sd = _pb_fields(sb)
        kind, col, ln = (
            sd.get(1, [0])[0],
            sd.get(2, [0])[0],
            sd.get(3, [0])[0],
        )
        if kind == 6 and col == 1:
            ix1_start, ix1_len = pos, ln
        pos += ln
    assert ix1_start is not None
    # cursor walk: RowIndex { repeated RowIndexEntry entry = 1; }
    # entry { repeated uint64 positions = 1 [packed];
    #         ColumnStatistics statistics = 2 }
    # stats { uint64 numberOfValues = 1; IntegerStatistics int = 2 }
    # int   { sint64 minimum = 1; sint64 maximum = 2; ... }
    p = ix1_start
    end = ix1_start + ix1_len
    entry_no = 0
    stats_done = pos_done = False
    while p < end and not (
        (stats_done or not lie_stats) and (pos_done or not lie_pos)
    ):
        tag, p = uvarint(data, p)
        assert tag == 0x0A  # entry, length-delimited
        elen, p = uvarint(data, p)
        e_end = p + elen
        positions_span = None
        stats_span = None
        while p < e_end:
            t2, p = uvarint(data, p)
            l2, p = uvarint(data, p)
            if t2 == 0x0A:
                positions_span = (p, p + l2)
            elif t2 == 0x12:
                stats_span = (p, p + l2)
            p += l2
        if lie_pos and not pos_done and entry_no == 1:
            s0, _s1 = positions_span
            v, after = uvarint(data, s0)
            blob[s0:after] = _same_len_bump(v, zig=False)
            pos_done = True
        if lie_stats and not stats_done and stats_span is not None:
            sp, s_end = stats_span
            ist_span = None
            while sp < s_end:
                t3, sp = uvarint(data, sp)
                if t3 == 0x08:  # numberOfValues varint
                    _, sp = uvarint(data, sp)
                    continue
                l3, sp = uvarint(data, sp)
                if t3 == 0x12:
                    ist_span = (sp, sp + l3)
                sp += l3
            ist = _pb_fields(data[ist_span[0] : ist_span[1]])
            emin, emax = unzigzag(ist.get(1, [0])[0]), unzigzag(ist.get(2, [0])[0])
            if not (emin > hi or emax < lo):  # first SELECTED stride
                ip, i_end = ist_span
                while ip < i_end:
                    t4, ip = uvarint(data, ip)
                    v4_start = ip
                    v4, ip = uvarint(data, ip)
                    if t4 == 0x10:  # maximum
                        blob[v4_start:ip] = _same_len_bump(
                            unzigzag(v4), zig=True
                        )
                        stats_done = True
                        break
        entry_no += 1
        p = e_end
    assert (stats_done or not lie_stats) and (pos_done or not lie_pos)


def _make_orc_rowindex(i: int) -> bytes:
    """REAL pyarrow.orc file: one int64 column, stride-1000 row
    index, one stripe, values ``300*(r//1000) + (i + 7*r) % 251`` so
    each stride owns a disjoint 250-wide band (min/max exact in the
    oracle). Every 19th id inflates the first selected stride's
    claimed max; every 29th id bumps entry 1's seek position."""
    import io

    import pyarrow as pa
    import pyarrow.orc as orc_mod

    n, lo, hi = _rowindex_params(i)
    vals = [300 * (r // 1000) + (i + 7 * r) % 251 for r in range(n)]
    buf = io.BytesIO()
    orc_mod.write_table(
        pa.table({"k": pa.array(vals, pa.int64())}),
        buf,
        compression="uncompressed",
        row_index_stride=1000,
    )
    blob = bytearray(buf.getvalue())
    lie_stats = i % 19 == 0
    lie_pos = i % 29 == 0
    if lie_stats or lie_pos:
        _patch_row_index(blob, lo, hi, lie_stats, lie_pos)
    return bytes(blob)


def synthesize_orc_rowindex_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of row-index ORC files."""
    return synthesize_blobs(docs, _make_orc_rowindex, blob_meta("orc"), partitions)


def orc_rowindex_stats(df: DataFrame) -> DataFrame:
    """Row-index skipping reads over MEDIA_SCHEMA blobs."""
    return blob_stats(
        df,
        lambda b, mid: read_orc_rowindex(b, *_rowindex_params(mid)[1:]),
        ORCIX_SCHEMA,
        "orc",
        by_id=True,
    )


# ------------------------------------------------------- BLOOM_FILTER
# The third ORC skipping layer (stats -> ROW_INDEX -> blooms),
# completing the same trio the parquet side has (L192/L222/L237).
# Stream kind 8 (BLOOM_FILTER_UTF8) holds a BloomFilterIndex
# protobuf: one BloomFilter per row-index stride, with
# numHashFunctions (field 1) and the utf8bitset bytes (field 3).
# LONG values are hashed with the Thomas Wang 64-bit mix computed in
# SIGNED arithmetic (C++ ORC's int64_t shifts are arithmetic — this
# maps 0 to 0, unlike the unsigned variant) and spread over k
# positions Kirsch-Mitzenmacher style with Java-int overflow
# semantics; every convention below is pinned bit-exact against
# pyarrow's writer in tests.


def _s64(x: int) -> int:
    x &= (1 << 64) - 1
    return x - (1 << 64) if x >= (1 << 63) else x


def orc_long_hash(key: int) -> int:
    """C++ ORC getLongHash: Thomas Wang mix over SIGNED int64."""
    key = _s64(~key + (key << 21))
    key = _s64(key ^ (key >> 24))
    key = _s64(key + (key << 3) + (key << 8))
    key = _s64(key ^ (key >> 14))
    key = _s64(key + (key << 2) + (key << 4))
    key = _s64(key ^ (key >> 28))
    key = _s64(key + (key << 31))
    return key


def _i32(x: int) -> int:
    x &= 0xFFFFFFFF
    return x - (1 << 32) if x >= (1 << 31) else x


def orc_bloom_positions(v: int, k: int, nbits: int) -> list[int]:
    """The k probe positions of LONG value v (Kirsch-Mitzenmacher
    over the two 32-bit halves, Java-int wrap, negative -> ~x)."""
    h = orc_long_hash(v)
    h1, h2 = _i32(h), _i32(h >> 32)
    out = []
    for i in range(1, k + 1):
        comb = _i32(h1 + i * h2)
        if comb < 0:
            comb = _i32(~comb)
        out.append(comb % nbits)
    return out


def orc_bloom_check(bitset: bytes, k: int, v: int) -> bool:
    nbits = len(bitset) * 8
    return all(
        (bitset[p >> 3] >> (p & 7)) & 1
        for p in orc_bloom_positions(v, k, nbits)
    )


def _parse_bloom_index(raw: bytes) -> list[tuple[int, bytes]] | None:
    """BloomFilterIndex -> [(numHashFunctions, bitset bytes)]."""
    msg = _pb_fields(raw)
    out = []
    for e in msg.get(1, []):
        bf = _pb_fields(e)
        k = bf.get(1, [None])[0]
        bits = bf.get(3, [None])[0]
        if not isinstance(k, int) or not isinstance(bits, bytes):
            return None
        out.append((k, bits))
    return out


def read_orc_bloom_lookup(data: bytes, q: int) -> dict | None:
    """Point lookup of ``q`` gated by the per-stride bloom filters:
    strides whose filter rejects q are never read; read strides
    re-probe EVERY decoded value against their own filter (a false
    negative is a writer-contract violation — the planted bit-clear
    lie must degrade), and all of a column's filters must agree on
    (numHashFunctions, bitset size) — the writer invariant the
    cooked-k lie violates. Bloom entry count must equal the
    row-index entry count (one filter per stride)."""
    walked = _walk_footer(data)
    if walked is None:
        return None
    footer, comp = walked
    if comp != 0:
        return None
    num_rows = footer.get(6, [None])[0]
    stride = footer.get(8, [None])[0]
    stripes = footer.get(3, [])
    types = footer.get(4, [])
    if (
        not isinstance(num_rows, int)
        or not isinstance(stride, int)
        or stride <= 0
        or not stripes
        or len(types) != 2
    ):
        return None
    if _pb_fields(types[1]).get(1, [0])[0] != 4:  # LONG
        return None
    n_strides = n_maybe = n_found = 0
    found_stride = -1
    total = 0
    try:
        for s in stripes:
            got = _stripe_streams(data, _pb_fields(s), comp)
            if got is None:
                return None
            streams, encs, rows = got
            if encs.get(1) != 2:
                return None
            if (8, 1) not in streams or (6, 1) not in streams:
                return None
            blooms = _parse_bloom_index(streams[(8, 1)])
            entries = _parse_row_index(streams[(6, 1)])
            if blooms is None:
                return None
            nst = -(-rows // stride)
            if len(blooms) != nst or len(entries) != nst:
                return None  # one filter per stride, one entry each
            shapes = {(k, len(bits)) for k, bits in blooms}
            if len(shapes) != 1:
                return None  # writer emits uniform k / numBytes
            k0, _nb = next(iter(shapes))
            if k0 < 1:
                return None
            vals = None
            for kx, st_ in enumerate(blooms):
                bk, bits = st_
                n_strides += 1
                if not orc_bloom_check(bits, bk, q):
                    continue  # definitively absent: never read
                n_maybe += 1
                if vals is None:
                    vals, _ = _rle_v2(streams[(1, 1)], rows, True)
                r0 = kx * stride
                r1 = min(r0 + stride, rows)
                chunk = vals[r0:r1]
                for v in chunk:
                    if not orc_bloom_check(bits, bk, v):
                        return None  # false negative: the filter lied
                hits = sum(1 for v in chunk if v == q)
                if hits and found_stride < 0:
                    found_stride = kx
                n_found += hits
            total += rows
    except (ValueError, IndexError, TypeError):
        return None
    if total != num_rows:
        return None
    return {
        "n_rows": num_rows,
        "n_strides": n_strides,
        "n_maybe": n_maybe,
        "n_found": n_found,
        "found_stride": found_stride,
    }


ORCBLOOM_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_rows", LongType()),
        StructField("n_strides", LongType()),
        StructField("n_found", LongType()),
        StructField("found_stride", LongType()),
        StructField("q", LongType()),
    ]
)


def _orc_bloom_params(i: int) -> tuple[int, int, bool]:
    """(row count, probe value, present). Stride k holds the values
    ``residue * 8 + k`` (residues 0..250) — every stride spans the
    SAME numeric band, so min/max statistics cannot skip anything
    and the bloom is the only working discriminator. Lie ids pin the
    probe onto a present residue so the cooked stride is read."""
    n = 3000 + 500 * (i % 5)
    nst = -(-n // 1000)
    lie = i % 19 == 0 or i % 23 == 0
    qr = (i * 13) % (251 if lie else 260)
    s_target = i % nst
    return n, qr * 8 + s_target, qr < 251


def _make_orc_bloom(i: int) -> bytes:
    """REAL pyarrow.orc file with per-stride bloom filters (fpp
    0.05, k=4). Every 19th id clears one bloom bit of a non-probe
    value in the probe's stride (chosen outside the probe's own
    positions, so the stride is still read and walks into the lie);
    every 23rd id bumps stride 1's numHashFunctions varint — the
    uniform-shape writer invariant catches it before any probe."""
    import io

    import pyarrow as pa
    import pyarrow.orc as orc_mod

    n, q, _present = _orc_bloom_params(i)
    nst = -(-n // 1000)
    vals = [
        ((i + 7 * r) % 251) * 8 + (r // 1000) for r in range(n)
    ]
    buf = io.BytesIO()
    orc_mod.write_table(
        pa.table({"k": pa.array(vals, pa.int64())}),
        buf,
        compression="uncompressed",
        row_index_stride=1000,
        bloom_filter_columns=[1],
        bloom_filter_fpp=0.05,
    )
    blob = bytearray(buf.getvalue())
    if not (i % 19 == 0 or i % 23 == 0):
        return bytes(blob)
    # locate the kind-8 col-1 stream and its per-entry spans
    data = bytes(blob)
    ps_len = data[-1]
    ps = _pb_fields(data[-1 - ps_len : -1])
    flen = ps[1][0]
    foot = _pb_fields(
        _unframe(data[len(data) - 1 - ps_len - flen : -1 - ps_len], 0)
    )
    st = _pb_fields(foot[3][0])
    off, ilen, dlen, sflen = (st[k][0] for k in (1, 2, 3, 4))
    sf = _pb_fields(
        _unframe(data[off + ilen + dlen : off + ilen + dlen + sflen], 0)
    )
    pos = off
    b_start = b_len = None
    for sb in sf.get(1, []):
        sd = _pb_fields(sb)
        kind, col, ln = (
            sd.get(1, [0])[0],
            sd.get(2, [0])[0],
            sd.get(3, [0])[0],
        )
        if kind == 8 and col == 1:
            b_start, b_len = pos, ln
        pos += ln
    assert b_start is not None
    # cursor walk over BloomFilterIndex entries
    p = b_start
    end = b_start + b_len
    entry = 0
    s_target = i % nst
    while p < end:
        tag, p = uvarint(data, p)
        assert tag == 0x0A
        elen, p = uvarint(data, p)
        e_end = p + elen
        k_span = bits_span = None
        q2 = p
        while q2 < e_end:
            t2, q2 = uvarint(data, q2)
            if t2 == 0x08:
                v_start = q2
                _v, q2 = uvarint(data, q2)
                k_span = (v_start, q2)
            else:
                l2, q2 = uvarint(data, q2)
                if t2 == 0x1A:
                    bits_span = (q2, q2 + l2)
                q2 += l2
        if i % 23 == 0 and entry == 1 and k_span is not None:
            blob[k_span[0]] = blob[k_span[0]] + 1  # k 4 -> 5
        if i % 19 == 0 and entry == s_target and bits_span is not None:
            kf = data[k_span[0]]
            nbits = (bits_span[1] - bits_span[0]) * 8
            q_pos = set(orc_bloom_positions(q, kf, nbits))
            victim_res = ((i * 13) % 251 + 1) % 251
            victim = victim_res * 8 + s_target
            bit = next(
                b
                for b in orc_bloom_positions(victim, kf, nbits)
                if b not in q_pos
            )
            byte_at = bits_span[0] + (bit >> 3)
            blob[byte_at] &= ~(1 << (bit & 7)) & 0xFF
        entry += 1
        p = e_end
    return bytes(blob)


def synthesize_orc_bloom_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of bloom-bearing ORC files."""
    return synthesize_blobs(docs, _make_orc_bloom, blob_meta("orc"), partitions)


def _orcbloom_walk(b: bytes, mid: int) -> dict | None:
    _n, q, _present = _orc_bloom_params(mid)
    st = read_orc_bloom_lookup(b, q)
    # n_maybe stays out of the row: bloom FPs are legal -> not oracled
    return None if st is None else dict(st, q=q)


def orc_bloom_stats(df: DataFrame) -> DataFrame:
    """Bloom-gated ORC point lookups over MEDIA_SCHEMA blobs."""
    return blob_stats(
        df,
        _orcbloom_walk,
        ORCBLOOM_SCHEMA,
        "orc",
        defaults={"found_stride": -1},
        by_id=True,
    )


# ------------------------------------------- FLOAT + DOUBLE + BINARY


def read_orc_double_bin(data: bytes) -> dict | None:
    """Full read of an (f FLOAT, x DOUBLE, b BINARY) ORC file —
    the remaining common warehouse types after round 12's
    DECIMAL/TIMESTAMP:

    - FLOAT/DOUBLE: DATA = IEEE 754 little-endian 4/8-byte values,
      DIRECT encoding (the spec defines no V2 for them); stream
      length must be exactly rows*width;
    - BINARY (DIRECT_V2): DATA = concatenated payload bytes, LENGTH
      = RLEv2 unsigned lengths whose sum must tile DATA exactly;
    - footer DoubleStatistics (min/max/sum as fixed64 doubles) are
      cross-checked against the decode — the sum bit-exactly, using
      the writer's own per-stripe-then-merge accumulation order;
      BinaryStatistics.sum (zigzag total length) likewise."""
    import struct as _s

    walked = _walk_footer(data)
    if walked is None:
        return None
    footer, comp = walked
    num_rows = footer.get(6, [None])[0]
    stripes = footer.get(3, [])
    types = footer.get(4, [])
    stats = footer.get(7, [])
    if not isinstance(num_rows, int) or not stripes or len(types) != 4:
        return None
    try:
        kinds = [_pb_fields(t).get(1, [0])[0] for t in types]
    except ValueError:
        return None
    if kinds != [12, 5, 6, 8]:  # struct, FLOAT, DOUBLE, BINARY
        return None
    # vectorized (optimization round 14, guide §4.2): frombuffer views
    # replace the per-value unpack/extend loops. The exactness argument
    # is unchanged from the fixture design: every value is an integer /
    # 64 with |sum| far below 2^53, so EVERY partial sum is exactly
    # representable and summation order cannot change the result —
    # numpy's pairwise float64 sum equals the writer's sequential
    # per-stripe accumulation bit-for-bit. bsum needs no per-row loop
    # at all: the LENGTH stream is proven to tile DATA exactly first,
    # so the per-row byte sums telescope into one sum over the body.
    f_parts: list = []
    x_parts: list = []
    f_sum = x_sum = 0.0  # per-stripe accumulation, merged in order
    blen_sum = bsum = n_bin = 0
    n_stripes = 0
    try:
        for s in stripes:
            got = _stripe_streams(data, _pb_fields(s), comp)
            if got is None:
                return None
            streams, encs, rows = got
            if encs.get(1) != 0 or encs.get(2) != 0:  # DIRECT only
                return None
            if encs.get(3) != 2:  # binary DIRECT_V2
                return None
            fbody = _unframe(streams.get((1, 1), b""), comp)
            if len(fbody) != 4 * rows:
                return None
            fvals = np.frombuffer(fbody, "<f4")
            xbody = _unframe(streams.get((1, 2), b""), comp)
            if len(xbody) != 8 * rows:
                return None
            xvals = np.frombuffer(xbody, "<f8")
            bbody = _unframe(streams.get((1, 3), b""), comp)
            lens, _ = _rle_v2(
                _unframe(streams.get((2, 3), b""), comp), rows, False
            )
            lens_a = np.array(lens, dtype=np.int64)
            if (lens_a < 0).any() or int(lens_a.sum()) != len(bbody):
                return None
            bsum += int(np.frombuffer(bbody, np.uint8).sum())
            blen_sum += len(bbody)
            n_bin += rows
            f_parts.append(fvals)
            x_parts.append(xvals)
            f_sum += float(fvals.sum(dtype=np.float64))
            x_sum += float(xvals.sum(dtype=np.float64))
            n_stripes += 1
    except (ValueError, IndexError, TypeError):
        return None
    floats = (
        np.concatenate(f_parts) if f_parts else np.empty(0, "<f4")
    ).astype(np.float64)
    doubles = np.concatenate(x_parts) if x_parts else np.empty(0, "<f8")
    if len(floats) != num_rows or n_bin != num_rows:
        return None
    # ---- footer statistics vs the decode
    if len(stats) != 4:
        return None
    for idx, (vals, total) in (
        (1, (floats, f_sum)),
        (2, (doubles, x_sum)),
    ):
        cs = _pb_fields(stats[idx])
        if cs.get(1, [None])[0] != num_rows:
            return None
        ds = _pb_fields(cs.get(3, [b""])[0]) if 3 in cs else {}
        for fno, want in (
            (1, float(vals.min())),
            (2, float(vals.max())),
            (3, total),
        ):
            if fno in ds:
                (got_d,) = _s.unpack("<d", ds[fno][0])
                if got_d != want:
                    return None
    bs_cs = _pb_fields(stats[3])
    if bs_cs.get(1, [None])[0] != num_rows:
        return None
    bstat = _pb_fields(bs_cs.get(8, [b""])[0]) if 8 in bs_cs else {}
    if 1 in bstat and unzigzag(bstat[1][0]) != blen_sum:
        return None
    return {
        "n_rows": num_rows,
        "n_stripes": n_stripes,
        "f_sum": f_sum,
        "x_sum": x_sum,
        "x_min": float(doubles.min()),
        "x_max": float(doubles.max()),
        "blen_sum": blen_sum,
        "bsum": bsum,
        "compression": _COMP_NAMES[comp],
    }


ORCDBL_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("compression", StringType()),
        StructField("n_rows", LongType()),
        StructField("f_sum", DoubleType()),
        StructField("x_sum", DoubleType()),
        StructField("x_min", DoubleType()),
        StructField("x_max", DoubleType()),
        StructField("blen_sum", LongType()),
        StructField("bsum", LongType()),
    ]
)


def _dbl_rows(i: int, n: int):
    """Exactly-representable values: integers / 64, so every partial
    sum is exact in BOTH engines and float equality is bit-equality.
    (f fits float32: |mantissa| < 2^13.)"""
    mf = [(i * 13 + r * 7) % 8192 - 4096 for r in range(n)]
    mx = [(i * 29 + r * 17) % 2_000_001 - 1_000_000 for r in range(n)]
    return mf, mx


def _bin_rows(i: int, n: int) -> list[bytes]:
    return [
        bytes(
            (i * 3 + r * 5 + j * 11) % 256
            for j in range((i + r) % 18)
        )
        for r in range(n)
    ]


def _make_orc_double(i: int, bad_stripe: int = 21) -> bytes:
    """REAL pyarrow.orc file: (f FLOAT, x DOUBLE, b BINARY),
    ``1200 + (i%4)*300`` rows, 4 KiB stripes, compression rotating
    by id. Every ``bad_stripe``-th id flips a byte inside the first
    stripe's data region — caught by codec grammar, stream-length
    tiling, or the statistics books."""
    import io

    import pyarrow as pa
    import pyarrow.orc as orc_mod

    n = 1200 + (i % 4) * 300
    # vectorized twins of _dbl_rows/_bin_rows (optimization round 14,
    # guide §4.2; written-file byte-identity vs the list-based
    # construction pinned in tests/test_codec_fastpaths.py). The
    # binary column is assembled as Arrow offsets + one data buffer —
    # the §4.2 re-slice trick — instead of ~n tiny bytes objects.
    r = np.arange(n, dtype=np.int64)
    mf = (i * 13 + r * 7) % 8192 - 4096
    mx = (i * 29 + r * 17) % 2_000_001 - 1_000_000
    lens = (i + r) % 18
    offsets = np.zeros(n + 1, dtype="<i4")
    np.cumsum(lens, out=offsets[1:])
    j = np.arange(17, dtype=np.int64)
    grid = ((i * 3 + 5 * r[:, None] + 11 * j[None, :]) % 256).astype(
        np.uint8
    )
    data_buf = grid[j[None, :] < lens[:, None]]
    b_arr = pa.Array.from_buffers(
        pa.binary(),
        n,
        [
            None,
            pa.py_buffer(offsets.tobytes()),
            pa.py_buffer(data_buf.tobytes()),
        ],
    )
    comp = ("uncompressed", "zlib", "snappy", "zstd", "lz4")[i % 5]
    buf = io.BytesIO()
    orc_mod.write_table(
        pa.table(
            {
                "f": pa.array((mf / 64.0).astype(np.float32), pa.float32()),
                "x": pa.array(mx / 64.0, pa.float64()),
                "b": b_arr,
            }
        ),
        buf,
        compression=comp,
        stripe_size=4096,
        batch_size=256,
    )
    blob = bytearray(buf.getvalue())
    if i % bad_stripe == 0:
        data = bytes(blob)
        ps_len = data[-1]
        ps = _pb_fields(data[-1 - ps_len : -1])
        flen, ck = ps[1][0], ps.get(2, [0])[0]
        foot = _pb_fields(
            _unframe(
                data[len(data) - 1 - ps_len - flen : -1 - ps_len], ck
            )
        )
        st = _pb_fields(foot[3][0])
        blob[st[1][0] + st[2][0] + 9] ^= 0x55
    return bytes(blob)


def synthesize_orc_double_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of real float/double/binary ORC files."""
    return synthesize_blobs(docs, _make_orc_double, blob_meta("orc"), partitions)


def orc_double_stats(df: DataFrame) -> DataFrame:
    """Float/double/binary ORC read over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_orc_double_bin, ORCDBL_SCHEMA, "orc")
