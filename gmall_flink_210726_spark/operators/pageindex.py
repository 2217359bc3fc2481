r"""Parquet PAGE INDEX (ColumnIndex + OffsetIndex) — page-level
predicate skipping, the layer below x49/L192's row-group skipping.

The parquet-format spec stores, per column chunk, two out-of-band
Thrift structs between the last data page and the footer:

- ``ColumnIndex`` (ColumnChunk field 6/7): per-PAGE ``null_pages``
  (``list<bool>`` — the shape that exercises the compact protocol's
  standalone bool-element encoding), ``min_values``/``max_values``
  (binary, little-endian for INT64), ``boundary_order`` and
  ``null_counts``.
- ``OffsetIndex`` (ColumnChunk field 4/5): per-page
  ``PageLocation {offset, compressed_page_size, first_row_index}``
  — enough to seek straight to one page without walking its
  predecessors.

A range predicate then opens ONLY the pages whose claimed
``[min,max]`` can intersect — at 100 TB this is the difference
between reading a 1 MB page and a 128 MB row group when the sort
order is good. The trust chain is CHECKED, not assumed: every page
actually read has its decoded min/max compared against the index's
claim, so an index that lies about a read page degrades the whole
file (a lie about a SKIPPED page is invisible by construction — the
same sharp property as Delta's removed-file stats, and the reason
writers must never reorder values after indexing).

Fixtures are REAL pyarrow writes (``write_page_index=True``) with
page geometry pinned by ``write_batch_size`` (16-row pages), codec
rotating NONE/SNAPPY/GZIP/ZSTD through the repo's hand decoders.

Reference anchor: the gmall reference scans Kafka-fed ODS tables
end-to-end (gmall-realtime/src/main/java/com/guohaoyu/ods/*.java);
this is the columnar-scan discipline its DWD layer would need on a
lakehouse at production scale.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import (
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
from gmall_flink_210726_spark.operators.parquetmeta import (
    _CODECS,
    _chunk_of,
    _page_body_at,
    _page_decompress,
    _read_struct,
    _Reader,
    read_footer,
    read_page,
    required_values,
)

# --------------------------------------------------------------------------
# the reader: footer -> ColumnIndex/OffsetIndex -> selected pages only
# --------------------------------------------------------------------------


def _i64le(b: bytes) -> int | None:
    """ColumnIndex min/max binaries for INT64 are 8-byte LE."""
    if not isinstance(b, bytes) or len(b) != 8:
        return None
    return struct.unpack("<q", b)[0]


def read_parquet_page_index(
    data: bytes, lo: int, hi: int
) -> dict | None:
    """Scan the 'k' INT64 column under predicate ``lo <= k <= hi``
    opening only pages the ColumnIndex cannot rule out.

    Cross-checks: index list lengths agree page-for-page;
    ``first_row_index`` starts at 0 and strictly increases within
    the chunk; ``null_pages`` all false and ``null_counts`` all
    zero (fixture writes no nulls); each opened page's header
    ``num_values`` equals the OffsetIndex's row span, its header +
    body span equals ``compressed_page_size`` exactly, def levels
    are all 1, PLAIN values consume the body exactly, and the
    DECODED min/max equal the index's claim. Pages outside the
    predicate are never touched.
    """
    meta = read_footer(data)
    if meta is None:
        return None
    num_rows, row_groups = meta[3], meta[4]
    n_groups = len(row_groups)
    n_pages = n_read = rows_read = match_count = match_sum = 0
    total_rows = 0
    for rg in row_groups:
        # the ColumnChunk itself: the index locations (4-7) sit beside
        # its ColumnMetaData (3), not in it
        chunk = _chunk_of(rg, [b"k"])
        if chunk is None or not isinstance(rg.get(3), int):
            return None
        rg_rows = rg[3]
        cm = chunk[3]
        codec = cm.get(4)
        if cm.get(1) != 2 or codec not in _CODECS:  # INT64 only
            return None
        oio, oil = chunk.get(4), chunk.get(5)
        cio, cil = chunk.get(6), chunk.get(7)
        if not all(isinstance(v, int) for v in (oio, oil, cio, cil)):
            return None  # no page index written
        if cio + cil > len(data) or oio + oil > len(data):
            return None
        try:
            ci = _read_struct(_Reader(data, cio, cio + cil))
            oi = _read_struct(_Reader(data, oio, oio + oil))
        except ValueError:
            return None
        null_pages = ci.get(1)
        mins = ci.get(2)
        maxs = ci.get(3)
        null_counts = ci.get(5)
        locs = oi.get(1)
        if not (
            isinstance(null_pages, list)
            and isinstance(mins, list)
            and isinstance(maxs, list)
            and isinstance(locs, list)
        ):
            return None
        np_ = len(locs)
        if (
            np_ == 0
            or len(null_pages) != np_
            or len(mins) != np_
            or len(maxs) != np_
        ):
            return None  # the two indexes must agree page-for-page
        if any(p is not False for p in null_pages):
            return None  # fixture writes no all-null pages
        if null_counts is not None and any(
            c != 0 for c in null_counts
        ):
            return None
        # first_row_index: 0-based, strictly increasing; row span of
        # page p is fri[p+1]-fri[p] (last page closes at rg_rows).
        fris = []
        offsets = []
        csizes = []
        for loc in locs:
            if not isinstance(loc, dict):
                return None
            off, csz, fri = loc.get(1), loc.get(2), loc.get(3)
            if not all(isinstance(v, int) for v in (off, csz, fri)):
                return None
            offsets.append(off)
            csizes.append(csz)
            fris.append(fri)
        if fris[0] != 0 or any(
            b <= a for a, b in zip(fris, fris[1:])
        ):
            return None
        spans = [
            (fris[p + 1] if p + 1 < np_ else rg_rows) - fris[p]
            for p in range(np_)
        ]
        if any(s <= 0 for s in spans):
            return None
        n_pages += np_
        total_rows += rg_rows
        for p in range(np_):
            cmin = _i64le(mins[p])
            cmax = _i64le(maxs[p])
            if cmin is None or cmax is None or cmin > cmax:
                return None
            if cmax < lo or cmin > hi:
                continue  # SKIPPED — these bytes are never touched
            got_page = read_page(data, offsets[p], rg_rows - fris[p])
            if got_page is None:
                return None
            ph, page, end = got_page
            if ph.get(1) != 0:  # DATA_PAGE v1
                return None
            dph = ph.get(5)
            if not isinstance(dph, dict) or dph.get(2) != 0:  # PLAIN
                return None
            pn = dph.get(1)
            if pn != spans[p]:
                return None  # header vs OffsetIndex row books
            if end - offsets[p] != csizes[p]:
                return None  # compressed_page_size INCLUDES the header
            page = _page_decompress(page, codec, ph[2])
            body = None if page is None else required_values(page, pn)
            if body is None or len(body) != 8 * pn:
                return None
            vals = struct.unpack(f"<{pn}q", body)
            if min(vals) != cmin or max(vals) != cmax:
                return None  # an index that lies about a READ page
            n_read += 1
            rows_read += pn
            for v in vals:
                if lo <= v <= hi:
                    match_count += 1
                    match_sum += v
    if total_rows != num_rows:
        return None
    return {
        "n_row_groups": n_groups,
        "n_pages": n_pages,
        "n_pages_read": n_read,
        "rows_read": rows_read,
        "match_count": match_count,
        "match_sum": match_sum,
    }


# --------------------------------------------------------------------------
# Spark plumbing
# --------------------------------------------------------------------------

PAGEIDX_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_row_groups", LongType()),
        StructField("n_pages", LongType()),
        StructField("n_pages_read", LongType()),
        StructField("rows_read", LongType()),
        StructField("match_count", LongType()),
        StructField("match_sum", LongType()),
    ]
)


def _predicate(i: int) -> tuple[int, int]:
    """Per-id range predicate. The lie stripe forces the full range
    so the lying page is guaranteed to be OPENED (a lie on a skipped
    page is invisible by construction)."""
    if i % 11 == 0:
        return 0, 996
    lo = (3 * i) % 600
    return lo, lo + 250


def parquet_page_index_stats(df: DataFrame) -> DataFrame:
    """Page-index-driven selective scan over MEDIA_SCHEMA blobs."""
    return blob_stats(
        df,
        lambda b, i: read_parquet_page_index(b, *_predicate(i)),
        PAGEIDX_SCHEMA,
        "parquet",
        by_id=True,
    )


# --------------------------------------------------------------------------
# fixtures: REAL pyarrow page-index writes with pinned page geometry
# --------------------------------------------------------------------------

_COMP = ("NONE", "SNAPPY", "GZIP", "ZSTD")


def _make_parquet_pageindex(i: int) -> bytes:
    """64 + 16*(i%5) rows of k=(i+7j)%997, 48-row row groups and
    16-row pages (write_batch_size pins the geometry), codec
    rotating through the four hand-decoded families. Every 13th id
    gets the first ColumnIndex byte smashed (parse must degrade);
    every 11th id (the LIE stripe, forced uncompressed + full-range
    predicate) gets one raw VALUE byte inflated so the decoded max
    exceeds the index's claim — only the read catches it."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 64 + 16 * (i % 5)
    lie = i % 11 == 0
    bad = i % 13 == 0
    comp = "NONE" if lie else _COMP[i % 4]
    vals = [(i + 7 * j) % 997 for j in range(n)]
    t = pa.table({"k": pa.array(vals, pa.int64())})
    buf = io.BytesIO()
    pq.write_table(
        t,
        buf,
        write_page_index=True,
        row_group_size=48,
        write_batch_size=16,
        data_page_size=1,
        compression=comp,
        use_dictionary=False,
        write_statistics=True,
        version="1.0",
    )
    data = bytearray(buf.getvalue())
    first_cc = read_footer(bytes(data))[4][0][1][0]
    if lie:
        # First data page of the first group: walk its header, skip
        # the def-level stream, then bump value[0]'s byte 6 — the
        # decoded max explodes past the claimed max.
        at = _page_body_at(bytes(data), first_cc[3][9])
        (dlen,) = struct.unpack_from("<I", data, at)
        data[at + 4 + dlen + 6] = 0x40
    if bad:
        data[first_cc[6]] = 0xFF  # ColumnIndex thrift becomes garbage
    return bytes(data)


def synthesize_parquet_pageindex_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of page-indexed parquet blobs."""
    return synthesize_blobs(docs, _make_parquet_pageindex, blob_meta("parquet"))
