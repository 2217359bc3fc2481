r"""LevelDB / RocksDB SSTable (BlockBasedTable) walk — the KV-store
file format behind embedded state stores (LevelDB table_format.md,
which RocksDB's BlockBasedTable extends compatibly for this layout).
Ingesting a KV snapshot at corpus scale means reading these files
directly, one executor per table.

Grammar, from the public format doc:

- footer (last 48 bytes): metaindex BlockHandle + index BlockHandle
  (varint64 offset/size pairs), zero padding, 8-byte magic
  0xdb4775248b80fb57 little-endian.
- every block is followed by a 1-byte compression type (0 raw /
  1 snappy — decoded by the repo's hand snappy) and a 4-byte MASKED
  crc32c: ``mask(c) = ((c >> 15 | c << 17) + 0xa282ead8)`` over the
  block content PLUS the type byte — leveldb's exact masking, on the
  repo's own CRC32C table (`operators/kafkalog.py`).
- block layout: prefix-compressed entries ``[shared varint]
  [non_shared varint][value_len varint][key delta][value]`` with a
  restart array (u32 offsets + u32 count) at the tail; entries at
  restart offsets carry shared=0 (each restart re-anchors the key),
  the first restart is offset 0.
- the index block's entries map separator keys (>= the last key of
  each data block, here the exact last key) to data BlockHandles in
  file order; user keys must be STRICTLY ascending across the whole
  table — the property every reader relies on for binary search.

Trust chain: footer magic; every handle in range; per-block masked
CRC32C; restart-array well-formedness (count, ascending offsets,
anchor-at-0, shared=0 at anchors); exact entry-region consumption;
strict global key order; index separators bounding their blocks;
handle count == data block count.

Scale: one Arrow-batched ``mapInPandas`` map stage per blob — no
shuffle (the L17 multimodal pattern).

Reference parity note: the reference keeps dim state in HBase/Redis
(`func/DimSinkFunction.java`); this is the same KV-snapshot surface
at open-format level.  Extends SURVEY §2.12's multimodal family.
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
from gmall_flink_210726_spark.operators.parquetmeta import (
    snappy_decompress,
)
from gmall_flink_210726_spark.operators.wire import _enc_uvarint, uvarint

_MAGIC = bytes.fromhex("57fb808b247547db")
_MASK_DELTA = 0xA282EAD8


def _mask_crc(c: int) -> int:
    return (((c >> 15) | (c << 17)) + _MASK_DELTA) & 0xFFFFFFFF


def _read_block(data: bytes, off: int, size: int) -> bytes | None:
    """Handle -> decompressed block content with the masked-CRC32C
    proof over content + type byte."""
    if off + size + 5 > len(data):
        return None
    raw = data[off : off + size]
    btype = data[off + size]
    (stored,) = struct.unpack_from("<I", data, off + size + 1)
    if _mask_crc(crc32c(data[off : off + size + 1])) != stored:
        return None
    if btype == 0:
        return raw
    if btype == 1:
        try:
            return snappy_decompress(raw)
        except ValueError:
            return None
    return None


def _parse_block(
    block: bytes,
) -> tuple[list[tuple[bytes, bytes]], int] | None:
    """-> ([(key, value)], n_restarts); None on a grammar violation,
    while a truncated or overlong varint raises ValueError (the
    caller's ``try`` catches it)."""
    if len(block) < 8:
        return None
    (n_restarts,) = struct.unpack_from("<I", block, len(block) - 4)
    tail = len(block) - 4 - 4 * n_restarts
    if n_restarts == 0 or tail < 0:
        return None
    restarts = list(
        struct.unpack_from(f"<{n_restarts}I", block, tail)
    )
    if restarts[0] != 0 or restarts != sorted(restarts):
        return None
    if tail == 0:
        if restarts != [0]:
            return None  # an empty block carries one zero anchor
    elif any(r >= tail for r in restarts[1:]):
        return None
    out: list[tuple[bytes, bytes]] = []
    entry_starts: set[int] = set()
    pos = 0
    prev_key = b""
    rs = set(restarts)
    while pos < tail:
        entry_starts.add(pos)
        at_restart = pos in rs
        shared, pos = uvarint(block, pos)
        non_shared, pos = uvarint(block, pos)
        vlen, pos = uvarint(block, pos)
        if pos + non_shared + vlen > tail:
            return None
        if at_restart and shared != 0:
            return None  # restarts must re-anchor
        if shared > len(prev_key):
            return None
        key = prev_key[:shared] + block[pos : pos + non_shared]
        pos += non_shared
        value = block[pos : pos + vlen]
        pos += vlen
        out.append((key, value))
        prev_key = key
    if pos != tail:
        return None  # entries must consume the region exactly
    if tail and any(r not in entry_starts for r in restarts):
        return None  # every restart must land on an entry start
    return out, n_restarts


def read_sstable(data: bytes) -> dict | None:
    """Full table walk -> verified KV census; None on any violation
    of the trust chain (module doc)."""
    if len(data) < 48 or data[-8:] != _MAGIC:
        return None
    footer = data[len(data) - 48 :]
    try:
        meta_off, p = uvarint(footer, 0)
        meta_size, p = uvarint(footer, p)
        idx_off, p = uvarint(footer, p)
        idx_size, p = uvarint(footer, p)
        if any(footer[p:40].strip(b"\x00")):
            return None  # footer padding must be zero
        meta_block = _read_block(data, meta_off, meta_size)
        if meta_block is None or _parse_block(meta_block) is None:
            return None
        idx_block = _read_block(data, idx_off, idx_size)
        if idx_block is None:
            return None
        got2 = _parse_block(idx_block)
        if got2 is None:
            return None
        index_entries, _ = got2
        if not index_entries:
            return None
        n_entries = key_bytes = val_byte_sum = n_restarts = 0
        prev_key: bytes | None = None
        prev_end = 0
        for sep_key, handle in index_entries:
            b_off, hp = uvarint(handle, 0)
            b_size, hp = uvarint(handle, hp)
            if hp != len(handle):
                return None
            if b_off != prev_end:
                return None  # data blocks must tile in file order
            prev_end = b_off + b_size + 5
            block = _read_block(data, b_off, b_size)
            if block is None:
                return None
            got2 = _parse_block(block)
            if got2 is None:
                return None
            entries, nr = got2
            if not entries:
                return None
            n_restarts += nr
            for key, value in entries:
                if prev_key is not None and key <= prev_key:
                    return None  # strict global order
                prev_key = key
                n_entries += 1
                key_bytes += len(key)
                val_byte_sum += sum(value)
            if entries[-1][0] > sep_key:
                return None  # separator must bound its block
        if prev_end != meta_off:
            return None  # data area must end where metaindex begins
        return {
            "n_blocks": len(index_entries),
            "n_entries": n_entries,
            "key_bytes": key_bytes,
            "val_byte_sum": val_byte_sum,
            "n_restarts": n_restarts,
        }
    except ValueError:
        return None  # a truncated or overlong varint


SSTABLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_blocks", LongType()),
        StructField("n_entries", LongType()),
        StructField("key_bytes", LongType()),
        StructField("val_byte_sum", LongType()),
        StructField("n_restarts", LongType()),
    ]
)


def sstable_stats(df: DataFrame) -> DataFrame:
    """SSTable KV census over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_sstable, SSTABLE_SCHEMA, "sstable")


# --------------------------------------------------------------------------
# Fixture synthesis (hand TableBuilder; snappy via pyarrow reference
# encoder on alternating blocks)
# --------------------------------------------------------------------------

_PER_BLOCK = 8
_RESTART_IVL = 4


def _sst_nk(i: int) -> int:
    return 40 + i % 40


def _sst_vlen(i: int, r: int) -> int:
    return 10 + (i + r) % 15


def _sst_vbyte(i: int, r: int, j: int) -> int:
    return (5 * i + 3 * r + j) % 251


def _build_block(entries: list[tuple[bytes, bytes]]) -> bytes:
    body = bytearray()
    restarts = []
    prev = b""
    for k, (key, value) in enumerate(entries):
        if k % _RESTART_IVL == 0:
            restarts.append(len(body))
            shared = 0
        else:
            shared = 0
            while (
                shared < len(prev)
                and shared < len(key)
                and prev[shared] == key[shared]
            ):
                shared += 1
        body += _enc_uvarint(shared)
        body += _enc_uvarint(len(key) - shared)
        body += _enc_uvarint(len(value))
        body += key[shared:]
        body += value
        prev = key
    for r in restarts:
        body += struct.pack("<I", r)
    body += struct.pack("<I", len(restarts))
    return bytes(body)


def _emit_block(out: bytearray, content: bytes, compress: bool) -> None:
    if compress:
        import pyarrow as pa

        raw = bytes(pa.Codec("snappy").compress(content))
        btype = 1
    else:
        raw = content
        btype = 0
    out += raw
    out += bytes([btype])
    out += struct.pack(
        "<I", _mask_crc(crc32c(raw + bytes([btype])))
    )


def make_sstable(i: int) -> bytes:
    """``40 + i%40`` keys ``k%05d`` (stride 7) in 8-entry blocks
    with restart interval 4, alternating raw/snappy blocks, exact
    last keys as index separators. Lies: every 13th id flips a bit
    in block 0's stored CRC (refused); every 17th-miss id overstates
    block 0's restart count (refused); every 19th-miss id swaps two
    keys inside one block (strict order refused)."""
    nk = _sst_nk(i)
    kvs = [
        (
            b"k%05d" % (7 * r),
            bytes(
                _sst_vbyte(i, r, j)
                for j in range(_sst_vlen(i, r))
            ),
        )
        for r in range(nk)
    ]
    if i % 19 == 0 and i % 13 != 0 and i % 17 != 0:
        kvs[1], kvs[2] = kvs[2], kvs[1]  # order violation in block 0
    out = bytearray()
    index_entries = []
    for b0 in range(0, nk, _PER_BLOCK):
        chunk = kvs[b0 : b0 + _PER_BLOCK]
        content = _build_block(chunk)
        if i % 17 == 0 and i % 13 != 0 and b0 == 0:
            # overstate the restart count
            content = content[:-4] + struct.pack(
                "<I",
                struct.unpack("<I", content[-4:])[0] + 1,
            )
        off = len(out)
        _emit_block(out, content, compress=(i + b0) % 2 == 1)
        if i % 13 == 0 and b0 == 0:
            out[-4] ^= 0x01  # stored CRC flip
        size = len(out) - off - 5
        index_entries.append(
            (
                chunk[-1][0],
                _enc_uvarint(off) + _enc_uvarint(size),
            )
        )
    meta_off = len(out)
    meta_content = _build_block([])
    # an empty block still carries one restart anchor
    meta_content = struct.pack("<II", 0, 1)
    _emit_block(out, meta_content, compress=False)
    meta_size = len(out) - meta_off - 5
    idx_off = len(out)
    _emit_block(out, _build_block(index_entries), compress=False)
    idx_size = len(out) - idx_off - 5
    footer = bytearray()
    footer += _enc_uvarint(meta_off) + _enc_uvarint(meta_size)
    footer += _enc_uvarint(idx_off) + _enc_uvarint(idx_size)
    footer += b"\x00" * (40 - len(footer))
    footer += _MAGIC
    out += footer
    return bytes(out)


def synthesize_sstable_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of SSTables."""
    return synthesize_blobs(docs, make_sstable, blob_meta("sstable"))


# --------------------------------------------------------------------------
# The log (WAL) format (leveldb log_format.md; RocksDB's legacy WAL
# is the same grammar): the OTHER half of the KV store next to the
# table walk above — every write hits the log first, and replaying
# logs is how a KV snapshot's tail (unflushed memtable) is
# recovered.  Fixed 32 KiB blocks; each record fragment is
# ``[masked crc32c u32 LE][length u16 LE][type u8][payload]`` where
# type is FULL(1) / FIRST(2) / MIDDLE(3) / LAST(4) and the CRC
# covers TYPE BYTE + PAYLOAD with the same masking as the table's
# blocks.  A fragment never spans a block boundary: when fewer than
# 7 bytes remain in a block the writer zero-pads, and a record
# larger than a block is split FIRST/MIDDLE*/LAST.  Trust chain:
# per-fragment masked CRC, the fragment state machine (a MIDDLE or
# LAST without a FIRST refuses; an unterminated FIRST at EOF
# refuses), zero trailer padding, and record payloads re-proven as
# length-prefixed KV upserts whose final state is latest-wins (the
# same dim-upsert semantic as the compacted-topic read).
# --------------------------------------------------------------------------

_WAL_BLOCK = 32768
_FULL, _FIRST, _MIDDLE, _LAST = 1, 2, 3, 4


def read_leveldb_wal(data: bytes) -> dict | None:
    """Log-file walk -> replayed KV state; None on any violation
    (section doc)."""
    records: list[bytes] = []
    frag: bytearray | None = None
    pos = 0
    while pos < len(data):
        block_end = min(pos + _WAL_BLOCK, len(data))
        while pos < block_end:
            if block_end - pos < 7:
                if any(data[pos:block_end]):
                    return None  # trailer must be zero padding
                pos = block_end
                break
            crc, length, rtype = struct.unpack_from(
                "<IHB", data, pos
            )
            if crc == 0 and length == 0 and rtype == 0:
                if any(data[pos:block_end]):
                    return None  # zero padding to block end only
                pos = block_end
                break
            if rtype not in (_FULL, _FIRST, _MIDDLE, _LAST):
                return None
            if pos + 7 + length > block_end:
                return None  # a fragment never crosses a block
            payload = data[pos + 7 : pos + 7 + length]
            if _mask_crc(crc32c(bytes([rtype]) + payload)) != crc:
                return None  # per-fragment masked CRC
            if rtype == _FULL:
                if frag is not None:
                    return None
                records.append(payload)
            elif rtype == _FIRST:
                if frag is not None:
                    return None
                frag = bytearray(payload)
            elif rtype == _MIDDLE:
                if frag is None:
                    return None
                frag += payload
            else:  # LAST
                if frag is None:
                    return None
                frag += payload
                records.append(bytes(frag))
                frag = None
            pos += 7 + length
    if frag is not None:
        return None  # unterminated record at EOF
    # payload grammar: [klen u16][key][vlen u16][value] upserts;
    # vlen 0xFFFF marks a delete
    state: dict[bytes, bytes | None] = {}
    n_deletes = 0
    for rec in records:
        p = 0
        if len(rec) < 2:
            return None
        while p < len(rec):
            if p + 2 > len(rec):
                return None
            (klen,) = struct.unpack_from("<H", rec, p)
            p += 2
            if p + klen + 2 > len(rec):
                return None
            key = rec[p : p + klen]
            p += klen
            (vlen,) = struct.unpack_from("<H", rec, p)
            p += 2
            if vlen == 0xFFFF:
                state[key] = None
                n_deletes += 1
                continue
            if p + vlen > len(rec):
                return None
            state[key] = rec[p : p + vlen]
            p += vlen
    live = {k: v for k, v in state.items() if v is not None}
    return {
        "n_records": len(records),
        "n_deletes": n_deletes,
        "live_keys": len(live),
        "value_byte_sum": sum(sum(v) for v in live.values()),
    }


WAL_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_records", LongType()),
        StructField("n_deletes", LongType()),
        StructField("live_keys", LongType()),
        StructField("value_byte_sum", LongType()),
    ]
)


def leveldb_wal_stats(df: DataFrame) -> DataFrame:
    """WAL replay over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_leveldb_wal, WAL_SCHEMA, "leveldb-wal")


def _wal_nw(i: int) -> int:
    return 30 + i % 30


def _wal_key(i: int, w: int) -> bytes:
    return b"k%03d" % ((w * 7) % (_wal_nw(i) // 2 + 5))


def _wal_vlen(i: int, w: int) -> int:
    return 20 + (i + w) % 40


def _wal_vbyte(i: int, w: int, j: int) -> int:
    return (11 * i + 3 * w + j) % 251


def _wal_is_delete(i: int, w: int) -> bool:
    return (w + i) % 7 == 6


def _wal_vbytes(i: int, w: int, ln: int) -> bytes:
    """Vectorized run of ``_wal_vbyte(i, w, 0..ln)`` (optimization
    round 14, guide §4.2) — byte-identical to the scalar generator,
    pinned in tests/test_codec_fastpaths.py."""
    import numpy as np

    return (
        ((11 * i + 3 * w + np.arange(ln, dtype=np.int64)) % 251)
        .astype(np.uint8)
        .tobytes()
    )


def make_leveldb_wal(i: int) -> bytes:
    """``30 + i%30`` upsert records (repeated keys exercise
    latest-wins; every 7th-offset a delete); record ``i%5`` is
    written as one BIG record spanning a block boundary via
    FIRST/MIDDLE/LAST fragments (the writer fills the current block
    with a FIRST fragment first). Lies: every 13th id flips a bit
    of one fragment's CRC field (refused); every 17th-miss id turns
    a LAST fragment into MIDDLE (unterminated record refuses);
    every 19th-miss id writes junk into the block-tail padding
    (refused)."""
    writes = []
    nw = _wal_nw(i)
    for w in range(nw):
        key = _wal_key(i, w)
        if _wal_is_delete(i, w):
            payload = (
                struct.pack("<H", len(key))
                + key
                + struct.pack("<H", 0xFFFF)
            )
        else:
            value = _wal_vbytes(i, w, _wal_vlen(i, w))
            payload = (
                struct.pack("<H", len(key))
                + key
                + struct.pack("<H", len(value))
                + value
            )
        if w == i % 5:
            # a jumbo record spanning a block boundary: the value is
            # chunked into several KV pairs inside ONE record
            # (u16 length caps a single value at 65535)
            big_val = _wal_vbytes(i, w, 40000)
            parts = []
            off = 0
            kk = 0
            while off < len(big_val):
                chunk = big_val[off : off + 30000]
                pk = key + b".%d" % kk
                parts.append(
                    struct.pack("<H", len(pk))
                    + pk
                    + struct.pack("<H", len(chunk))
                    + chunk
                )
                off += len(chunk)
                kk += 1
            payload = b"".join(parts)
        writes.append(payload)
    out = bytearray()

    def emit_fragment(rtype: int, payload: bytes) -> None:
        crc = _mask_crc(crc32c(bytes([rtype]) + payload))
        out.extend(struct.pack("<IHB", crc, len(payload), rtype))
        out.extend(payload)

    frag_kinds: list[tuple[int, int]] = []  # (out_pos, type)
    for w, payload in enumerate(writes):
        p = 0
        first = True
        while True:
            block_used = len(out) % _WAL_BLOCK
            room = _WAL_BLOCK - block_used
            if room < 7:
                out.extend(b"\x00" * room)
                continue
            avail = room - 7
            rest = len(payload) - p
            if rest <= avail:
                rtype = _FULL if first else _LAST
                frag_kinds.append((len(out), rtype))
                emit_fragment(rtype, payload[p:])
                break
            rtype = _FIRST if first else _MIDDLE
            frag_kinds.append((len(out), rtype))
            emit_fragment(rtype, payload[p : p + avail])
            p += avail
            first = False
    blob = bytearray(out)
    if i % 13 == 0:
        pos0 = frag_kinds[0][0]
        blob[pos0] ^= 0x01  # CRC field flip
    elif i % 17 == 0:
        # turn the final LAST fragment into MIDDLE, re-CRC'd so only
        # the state machine catches it
        for pos, rtype in reversed(frag_kinds):
            if rtype == _LAST:
                (ln,) = struct.unpack_from("<H", blob, pos + 4)
                payload = bytes(
                    blob[pos + 7 : pos + 7 + ln]
                )
                blob[pos + 6] = _MIDDLE
                struct.pack_into(
                    "<I",
                    blob,
                    pos,
                    _mask_crc(
                        crc32c(bytes([_MIDDLE]) + payload)
                    ),
                )
                break
    elif i % 19 == 0:
        # junk in the zero padding of a block tail
        pad_pos = None
        bpos = _WAL_BLOCK
        while bpos <= len(blob):
            if bytes(blob[bpos - 6 : bpos]) == b"\x00" * 6:
                pad_pos = bpos - 3
                break
            bpos += _WAL_BLOCK
        if pad_pos is None:
            blob.extend(b"\x00" * 7)  # force a padded tail
            pad_pos = len(blob) - 3
        blob[pad_pos] = 0x55
    return bytes(blob)


def synthesize_wal_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of WAL files."""
    return synthesize_blobs(docs, make_leveldb_wal, blob_meta("leveldb-wal"))
