r"""BGZF — Blocked GZip Format (the SAM/BAM spec §4.1, also used by
tabix/bgzip'd FASTA/VCF) — the random-access gzip variant: a BGZF
file is a sequence of RFC 1952 gzip members, each at most 64 KiB
uncompressed, whose FEXTRA field carries the ``BC`` subfield (SI1=66
SI2=67, SLEN=2) holding BSIZE = total block size - 1.  Because every
block's compressed extent is declared in its HEADER and its
uncompressed size in its ISIZE trailer, a reader can map any
uncompressed offset to a block by scanning headers/trailers ONLY and
inflate just that block — the 100 TB property: seek without
decompressing the prefix.  Addresses are "virtual offsets"
``(compressed_block_start << 16) | within_block_offset`` — the
BAM/tabix index convention, reproduced here for the target.

Decode is the repo's own from-scratch RFC 1951 inflate
(`operators/inflate.py`); the per-block CRC32 + ISIZE trailer is
verified for the block actually inflated.  Trust chain: gzip magic +
CM=8 + FEXTRA on every block, the BC subfield present with SLEN 2,
blocks tiling the file exactly, the mandatory 28-byte EOF marker
block terminating the file, target-block CRC32 and ISIZE books.
A corrupted NON-target block is invisible to the random-access path
(pinned in tests) — exactly the asymmetry that makes BGZF seekable.

Scale: one Arrow-batched ``mapInPandas`` map stage per blob — no
shuffle (the L17 multimodal pattern).

Reference parity note: the reference (gmall-flink Java) has no
compressed-container path; extends SURVEY §2.12's multimodal family.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from gmall_flink_210726_spark.operators.inflate import inflate
from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)

# SAM spec §4.1.2: the EOF marker is this exact 28-byte empty block
_EOF_MARKER = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000"
)


def _block_header(data: bytes, pos: int) -> tuple[int, int] | None:
    """BGZF member header at pos -> (data_start, block_size) or
    None; block_size = BSIZE+1 covers header..trailer."""
    if pos + 12 > len(data):
        return None
    if data[pos : pos + 2] != b"\x1f\x8b" or data[pos + 2] != 8:
        return None
    flg = data[pos + 3]
    if not flg & 0x04:
        return None  # FEXTRA is mandatory in BGZF
    if flg & 0xE0:
        return None  # reserved FLG bits
    (xlen,) = struct.unpack_from("<H", data, pos + 10)
    xend = pos + 12 + xlen
    if xend > len(data):
        return None
    p = pos + 12
    bsize = None
    while p < xend:
        if p + 4 > xend:
            return None
        si1, si2, slen = data[p], data[p + 1], struct.unpack_from(
            "<H", data, p + 2
        )[0]
        if p + 4 + slen > xend:
            return None
        if si1 == 66 and si2 == 67:
            if slen != 2 or bsize is not None:
                return None
            (bs,) = struct.unpack_from("<H", data, p + 4)
            bsize = bs + 1
        p += 4 + slen
    if bsize is None:
        return None  # no BC subfield: not BGZF
    # FNAME/FCOMMENT/FHCRC unsupported in BGZF members
    if flg & 0x1A:
        return None
    return xend, bsize


def read_bgzf(data: bytes, seed: int) -> dict | None:
    """BGZF stream + deterministic target
    (``(31 * seed) % total_uncompressed``) -> random-access proof:
    map the target by header/trailer scan only, inflate ONE block,
    verify its CRC32 + ISIZE, return byte/window at the target and
    its within-block offset (the low half of a BAM-style virtual
    offset ``(block_start << 16) | in_block_offset``; the high half
    is a byte position, inherently not closed-form). None on any
    violation."""
    pos = 0
    blocks = []  # (block_start, data_start, data_end, isize)
    while pos < len(data):
        got = _block_header(data, pos)
        if got is None:
            return None
        data_start, bsize = got
        end = pos + bsize
        if end > len(data) or end - 8 < data_start:
            return None
        crc, isize = struct.unpack_from("<II", data, end - 8)
        if data[pos:end] == _EOF_MARKER:
            if end != len(data):
                return None  # EOF marker must terminate the file
            blocks.append((pos, data_start, end - 8, 0))
            pos = end
            break
        if isize == 0 or isize > 65536:
            return None
        blocks.append((pos, data_start, end - 8, isize))
        pos = end
    else:
        return None  # ran out of bytes without an EOF marker
    if pos != len(data) or data[blocks[-1][0] :] != _EOF_MARKER:
        return None
    content = blocks[:-1]
    if not content:
        return None
    total = sum(b[3] for b in content)
    target = (31 * seed) % total
    cum = 0
    tidx = -1
    for k, (_s, _ds, _de, isz) in enumerate(content):
        if target < cum + isz:
            tidx = k
            break
        cum += isz
    if tidx < 0:
        return None
    bstart, dstart, dend, isize = content[tidx]
    try:
        payload = inflate(data[dstart:dend])
    except ValueError:
        return None
    if len(payload) != isize:
        return None  # the ISIZE books
    crc, _isz = struct.unpack_from("<II", data, dend)
    if zlib.crc32(payload) != crc:
        return None  # the CRC32 books
    j = target - cum
    jw = min(j, isize - 16)
    return {
        "n_blocks": len(content),
        "total_uncompressed": total,
        "target_block": tidx,
        "in_block_offset": j,
        "byte_at_target": payload[j],
        "window_sum": sum(payload[jw : jw + 16]),
    }


BGZF_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_blocks", LongType()),
        StructField("total_uncompressed", LongType()),
        StructField("target_block", LongType()),
        StructField("in_block_offset", LongType()),
        StructField("byte_at_target", LongType()),
        StructField("window_sum", LongType()),
    ]
)


def bgzf_stats(df: DataFrame) -> DataFrame:
    """Random-access BGZF proof over MEDIA_SCHEMA blobs; the target
    offset derives from media_id."""
    return blob_stats(df, read_bgzf, BGZF_SCHEMA, "bgzf", by_id=True)


def _bgzf_nb(i: int) -> int:
    return 3 + i % 5


def _bgzf_len(i: int, c: int) -> int:
    return 150 + 23 * ((i + c) % 6)


def _bgzf_byte(i: int, c: int, j: int) -> int:
    return (3 * i + 5 * c + 7 * j) % 251


def _bgzf_block(payload: bytes) -> bytes:
    """One BGZF member around payload (stdlib deflate as the
    reference encoder)."""
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    comp = co.compress(payload) + co.flush()
    bsize = 12 + 6 + len(comp) + 8
    head = (
        b"\x1f\x8b\x08\x04"
        + b"\x00" * 6
        + struct.pack("<H", 6)
        + b"BC"
        + struct.pack("<HH", 2, bsize - 1)
    )
    return head + comp + struct.pack(
        "<II", zlib.crc32(payload), len(payload)
    )


def make_bgzf(i: int) -> bytes:
    """BGZF stream: ``3 + i%5`` content blocks of deterministic
    bytes + the 28-byte EOF marker. Lies: every 13th id flips a
    byte INSIDE the target block's deflate data (the inflate
    grammar or the CRC books refuse); every 17th-miss id drops the
    EOF marker (refused); every 19th-miss id flips a bit of the
    target block's CRC32 (refused). A corrupted NON-target block
    stays invisible (pinned in tests); so would an ISIZE lie on a
    block the access never inflates — BGZF's books only cover what
    is read, which is exactly why the per-block CRC matters."""
    nb = _bgzf_nb(i)
    chunks = [
        bytes(
            _bgzf_byte(i, c, j) for j in range(_bgzf_len(i, c))
        )
        for c in range(nb)
    ]
    lens = [len(ch) for ch in chunks]
    total = sum(lens)
    target = (31 * i) % total
    cum = 0
    tidx = 0
    for c, ln in enumerate(lens):
        if target < cum + ln:
            tidx = c
            break
        cum += ln
    out = b""
    for c, ch in enumerate(chunks):
        blk = _bgzf_block(ch)
        if c == tidx and i % 13 == 0:
            mid = (18 + len(blk) - 8) // 2  # inside the deflate data
            blk = (
                blk[:mid]
                + bytes([blk[mid] ^ 0x55])
                + blk[mid + 1 :]
            )
        if (
            c == tidx
            and i % 19 == 0
            and i % 13 != 0
            and i % 17 != 0
        ):
            crc = struct.unpack_from("<I", blk, len(blk) - 8)[0]
            blk = (
                blk[:-8]
                + struct.pack("<I", crc ^ 1)
                + blk[-4:]
            )
        out += blk
    if not (i % 17 == 0 and i % 13 != 0):
        out += _EOF_MARKER
    return out


def synthesize_bgzf_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of BGZF streams."""
    return synthesize_blobs(docs, make_bgzf, blob_meta("bgzf"))
