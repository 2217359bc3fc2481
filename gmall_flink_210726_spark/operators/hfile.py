r"""HBase HFile version-2 walk (the HBase book's "HFile format"
appendix + the public HFileBlock/FixedFileTrailer layout) — the
on-disk format behind the REFERENCE'S OWN dim store: the reference
upserts dimension rows into HBase through Phoenix
(`func/DimSinkFunction.java:28-72`, `util/PhoenixUtil.java`), and
what a region server persists for those tables is HFiles.  Reading
them directly is how a bulk export / snapshot ingest sees the
reference's dimension data.

Grammar walked, with the trust chain at every layer:

- HFileBlock (v2 with checksums): 33-byte header = 8-byte block
  magic (``DATABLK*`` data, ``IDXROOT2`` root index, ``FILEINF2``
  file info), onDiskSizeWithoutHeader (int), uncompressedSize
  (int), prevBlockOffset (long, -1 for the first block — the
  backward chain every block carries), checksumType (byte, 2 =
  CRC32C), bytesPerChecksum (int), onDiskDataSizeWithHeader (int);
  then the payload, then 4-byte big-endian CRCs, ONE PER
  bytesPerChecksum CHUNK over header+payload — HBase's
  chunked-checksum scheme, verified chunk by chunk on the repo's
  own CRC32C table.
- data block payload: KeyValues ``[keyLen int][valLen int][key][value]``
  where key = ``[rowLen short][row][famLen byte][family][qualifier]
  [timestamp long][type byte]``; cells must be sorted by
  (row, family, qualifier) ascending then timestamp DESCENDING —
  the comparator every HBase read path assumes; type must be Put
  (4) here.
- root index block (single level): per data block
  ``[offset long][onDiskDataSizeWithHeader int][vint keyLen][first
  key]`` — each entry must name the block's true offset and size,
  and carry exactly its first cell's key.
- fixed trailer (212 bytes): ``TRABLK"$`` magic, fileInfoOffset /
  loadOnOpenDataOffset / dataIndexCount / entryCount /
  first+lastDataBlockOffset books (all re-proven against the walk),
  compression codec NONE, and the materialized version int
  ``(minor << 24) | major`` with major == 2.

Scale: one Arrow-batched ``mapInPandas`` map stage per blob — no
shuffle (the L17 multimodal pattern); at 100 TB one executor walks
one HFile, the root index giving in-file random access.

In-container fidelity note: no HBase jar ships here, so unlike the
parquet/ORC/Arrow fixtures the writer below is this module itself
(synthesized-then-verified, the L115 pattern); the layout follows
the public appendix and the field-by-field FixedFileTrailer /
HFileBlock documentation.
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

from gmall_flink_210726_spark.operators.kafkalog import crc32c
from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)

_MAGIC_DATA = b"DATABLK*"
_MAGIC_ROOT_IDX = b"IDXROOT2"
_MAGIC_FILE_INFO = b"FILEINF2"
_MAGIC_TRAILER = b'TRABLK"$'
_HDR = 33
_TRAILER_SIZE = 212
_CKSUM_CRC32C = 2
_TYPE_PUT = 4


def _block_at(
    data: bytes, pos: int, want_magic: bytes
) -> tuple[bytes, int, int] | None:
    """HFileBlock at pos -> (payload, end_pos, prev_offset) with the
    chunked-CRC32C proof; None on any violation."""
    if pos + _HDR > len(data):
        return None
    magic = data[pos : pos + 8]
    if magic != want_magic:
        return None
    (on_disk, uncomp) = struct.unpack_from(">ii", data, pos + 8)
    (prev,) = struct.unpack_from(">q", data, pos + 16)
    ck_type = data[pos + 24]
    (bpc, on_disk_with_hdr) = struct.unpack_from(
        ">ii", data, pos + 25
    )
    if ck_type != _CKSUM_CRC32C or bpc <= 0:
        return None
    if on_disk_with_hdr != _HDR + uncomp:
        return None  # uncompressed file: sizes must agree
    covered = _HDR + uncomp
    n_chunks = -(-covered // bpc)
    total = covered + 4 * n_chunks
    if on_disk != total - _HDR:
        return None  # onDiskSizeWithoutHeader books
    if pos + total > len(data):
        return None
    for c in range(n_chunks):
        lo = pos + c * bpc
        hi = min(pos + covered, lo + bpc)
        (stored,) = struct.unpack_from(
            ">I", data, pos + covered + 4 * c
        )
        if crc32c(data[lo:hi]) != stored:
            return None  # per-chunk checksum
    payload = data[pos + _HDR : pos + covered]
    return payload, pos + total, prev


def _parse_cell(payload: bytes, p: int):
    """KeyValue at p -> (row, fam, qual, ts, vsum, vlen, new_p)."""
    if p + 8 > len(payload):
        return None
    klen, vlen = struct.unpack_from(">ii", payload, p)
    p += 8
    if klen < 13 or vlen < 0 or p + klen + vlen > len(payload):
        return None
    key = payload[p : p + klen]
    (rlen,) = struct.unpack_from(">h", key, 0)
    if rlen < 0 or 2 + rlen + 1 > klen:
        return None
    row = key[2 : 2 + rlen]
    flen = key[2 + rlen]
    fam_start = 3 + rlen
    if fam_start + flen + 9 > klen:
        return None
    fam = key[fam_start : fam_start + flen]
    qual = key[fam_start + flen : klen - 9]
    (ts,) = struct.unpack_from(">q", key, klen - 9)
    ktype = key[klen - 1]
    if ktype != _TYPE_PUT:
        return None
    value = payload[p + klen : p + klen + vlen]
    return row, fam, qual, ts, sum(value), vlen, p + klen + vlen


def read_hfile(data: bytes) -> dict | None:
    """Full HFile v2 walk -> verified cell census; None on any
    violation of the trust chain (module doc)."""
    if len(data) < _TRAILER_SIZE:
        return None
    tr = data[len(data) - _TRAILER_SIZE :]
    if tr[:8] != _MAGIC_TRAILER:
        return None
    (
        file_info_off,
        load_on_open_off,
        data_index_count,
        _uncomp_index_sz,
        meta_index_count,
        _total_uncomp,
        entry_count,
        codec,
        index_levels,
        first_data_off,
        last_data_off,
    ) = struct.unpack_from(">qqiqiqqiiqq", tr, 8)
    (version,) = struct.unpack_from(">I", tr, _TRAILER_SIZE - 4)
    major = version & 0x00FFFFFF
    minor = version >> 24
    if major != 2 or minor < 1:
        return None  # v2-with-checksums only
    if codec != 2:  # NONE in HBase's Compression.Algorithm ordinal
        return None
    if meta_index_count != 0 or index_levels != 1:
        return None
    # data block walk from offset 0
    pos = 0
    blocks = []  # (offset, end, first_key, cells)
    prev_expect = -1
    n_cells = 0
    row_bytes = value_sum = 0
    last_cell = None
    while pos < load_on_open_off:
        got = _block_at(data, pos, _MAGIC_DATA)
        if got is None:
            return None
        payload, end, prev = got
        if prev != prev_expect:
            return None  # the backward chain
        p = 0
        first_key = None
        cells = 0
        while p < len(payload):
            cell = _parse_cell(payload, p)
            if cell is None:
                return None
            row, fam, qual, ts, vsum, _vlen, p = cell
            key_tuple = (row, fam, qual, -ts)
            if last_cell is not None and key_tuple <= last_cell:
                return None  # global comparator order
            last_cell = key_tuple
            if first_key is None:
                # reconstruct the serialized key for index matching
                first_key = (
                    struct.pack(">h", len(row))
                    + row
                    + bytes([len(fam)])
                    + fam
                    + qual
                    + struct.pack(">q", ts)
                    + bytes([_TYPE_PUT])
                )
            cells += 1
            n_cells += 1
            row_bytes += len(row)
            value_sum += vsum
        if cells == 0:
            return None
        blocks.append((pos, end, first_key, cells))
        prev_expect = pos
        pos = end
    if pos != load_on_open_off or not blocks:
        return None
    if first_data_off != 0 or last_data_off != blocks[-1][0]:
        return None  # trailer's first/last data offsets
    if entry_count != n_cells:
        return None  # trailer entry-count books
    # root index block
    got = _block_at(data, load_on_open_off, _MAGIC_ROOT_IDX)
    if got is None:
        return None
    idx_payload, idx_end, _prev = got
    p = 0
    for b_off, b_end, first_key, _cells in blocks:
        if p + 12 > len(idx_payload):
            return None
        off, sz = struct.unpack_from(">qi", idx_payload, p)
        p += 12
        if p >= len(idx_payload):
            return None  # entry must carry its key vint
        # vint (HBase WritableUtils.writeVInt: single byte for < 128)
        b0 = idx_payload[p]
        if b0 >= 128:
            return None  # fixture keys are short
        klen = b0
        p += 1
        if p + klen > len(idx_payload):
            return None
        key = idx_payload[p : p + klen]
        p += klen
        if off != b_off:
            return None  # index must name the true offset
        if sz != b_end - b_off:
            return None  # entry size must be the block's on-disk size
        if key != first_key:
            return None  # index must carry the block's first key
    if p != len(idx_payload):
        return None
    if data_index_count != len(blocks):
        return None
    # file info block
    if file_info_off != idx_end:
        return None
    got = _block_at(data, file_info_off, _MAGIC_FILE_INFO)
    if got is None:
        return None
    _fi_payload, fi_end, _prev = got
    if fi_end != len(data) - _TRAILER_SIZE:
        return None  # file info must abut the trailer
    return {
        "n_data_blocks": len(blocks),
        "n_cells": n_cells,
        "row_bytes": row_bytes,
        "value_byte_sum": value_sum,
        "max_block_cells": max(b[3] for b in blocks),
    }


HFILE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_data_blocks", LongType()),
        StructField("n_cells", LongType()),
        StructField("row_bytes", LongType()),
        StructField("value_byte_sum", LongType()),
        StructField("max_block_cells", LongType()),
    ]
)


def hfile_stats(df: DataFrame) -> DataFrame:
    """HFile cell census over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_hfile, HFILE_SCHEMA, "hfile")


# --------------------------------------------------------------------------
# Fixture synthesis
# --------------------------------------------------------------------------

_BPC = 256  # bytesPerChecksum: data blocks span multiple chunks


def _hf_nrows(i: int) -> int:
    return 20 + i % 25


def _hf_vlen(i: int, r: int) -> int:
    return 8 + (i + r) % 10


def _hf_vbyte(i: int, r: int, j: int) -> int:
    return (7 * i + 5 * r + j) % 251


def _enc_cell(
    row: bytes, fam: bytes, qual: bytes, ts: int, value: bytes
) -> bytes:
    key = (
        struct.pack(">h", len(row))
        + row
        + bytes([len(fam)])
        + fam
        + qual
        + struct.pack(">q", ts)
        + bytes([_TYPE_PUT])
    )
    return (
        struct.pack(">ii", len(key), len(value)) + key + value
    )


def _enc_block(
    magic: bytes, payload: bytes, prev: int
) -> bytes:
    covered = _HDR + len(payload)
    n_chunks = -(-covered // _BPC)
    on_disk = len(payload) + 4 * n_chunks
    head = (
        magic
        + struct.pack(">ii", on_disk, len(payload))
        + struct.pack(">q", prev)
        + bytes([_CKSUM_CRC32C])
        + struct.pack(">ii", _BPC, covered)
    )
    body = head + payload
    sums = b""
    for c in range(n_chunks):
        lo = c * _BPC
        hi = min(covered, lo + _BPC)
        sums += struct.pack(">I", crc32c(body[lo:hi]))
    return body + sums


def make_hfile(i: int) -> bytes:
    """``20 + i%25`` Put cells (row ``r%05d``, family ``d``,
    qualifier ``q``, timestamp 1700000000000) in 8-cell data blocks,
    single-level root index, FILEINF2 block, 212-byte trailer.  Lies:
    every 13th id flips a value byte in block 0 (chunk CRC refuses);
    every 17th-miss id points a root-index entry one byte off the
    block's true offset (refused); every 19th-miss id overstates the
    trailer's entryCount (refused)."""
    nr = _hf_nrows(i)
    cells = []
    for r in range(nr):
        value = bytes(
            _hf_vbyte(i, r, j) for j in range(_hf_vlen(i, r))
        )
        cells.append(
            _enc_cell(
                b"r%05d" % r, b"d", b"q", 1700000000000, value
            )
        )
    out = bytearray()
    blocks = []
    prev = -1
    for b0 in range(0, nr, 8):
        chunk = cells[b0 : b0 + 8]
        payload = b"".join(chunk)
        off = len(out)
        blk = _enc_block(_MAGIC_DATA, payload, prev)
        if i % 13 == 0 and b0 == 0:
            # flip a value byte inside the first cell (covered by
            # the first checksum chunk)
            blk = bytearray(blk)
            blk[_HDR + len(chunk[0]) - 1] ^= 0x01
            blk = bytes(blk)
        out += blk
        first_key_cell = chunk[0]
        (klen,) = struct.unpack_from(">i", first_key_cell, 0)
        first_key = first_key_cell[8 : 8 + klen]
        blocks.append((off, len(blk), first_key, len(chunk)))
        prev = off
    load_on_open_off = len(out)
    idx_payload = b""
    for k, (off, size, first_key, _c) in enumerate(blocks):
        e_off = off
        if (
            i % 17 == 0
            and i % 13 != 0
            and k == len(blocks) - 1
        ):
            e_off += 1
        idx_payload += struct.pack(">qi", e_off, size)
        idx_payload += bytes([len(first_key)]) + first_key
    out += _enc_block(_MAGIC_ROOT_IDX, idx_payload, -1)
    file_info_off = len(out)
    out += _enc_block(
        _MAGIC_FILE_INFO, b"\x00\x00\x00\x00", -1
    )
    entry_count = nr
    if i % 19 == 0 and i % 13 != 0 and i % 17 != 0:
        entry_count += 1
    trailer = bytearray(_MAGIC_TRAILER)
    trailer += struct.pack(
        ">qqiqiqqiiqq",
        file_info_off,
        load_on_open_off,
        len(blocks),
        len(idx_payload),
        0,  # metaIndexCount
        sum(b[1] for b in blocks),
        entry_count,
        2,  # compression NONE ordinal
        1,  # numDataIndexLevels
        0,
        blocks[-1][0],
    )
    trailer += b"\x00" * (
        _TRAILER_SIZE - len(trailer) - 4
    )
    trailer += struct.pack(">I", (3 << 24) | 2)  # minor 3, major 2
    assert len(trailer) == _TRAILER_SIZE
    out += trailer
    return bytes(out)


def synthesize_hfile_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of HFiles."""
    return synthesize_blobs(docs, make_hfile, blob_meta("hfile"), partitions)
