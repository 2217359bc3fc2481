"""REAL POSIX ustar (tar) archive walk over binary columns.

The data-pipeline container decoder: multimodal training corpora ship
as tar shards (the WebDataset convention — one tar member per sample),
and the shard indexing pass a loader runs on every shard is exactly
this walk: 512-byte headers, octal size fields, header checksum
validation (sum of header bytes with the chksum field blanked), magic
check, payload skip at 512-block granularity, two-zero-block EOF.

Corrupt-stripe contract: a bad magic, checksum mismatch, non-octal
size, truncated payload, or malformed EOF degrades the row to
``format='unknown'`` — corruption is discovered by PARSING.

Scale design: Arrow-batched mapInPandas; a handful of integer stats
per shard shuffle, payloads never do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)

TAR_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_members", LongType()),
        StructField("total_payload", LongType()),
        StructField("payload_sum", LongType()),
        StructField("n_blocks", LongType()),
        StructField("first_name", StringType()),
    ]
)

_BLOCK = 512


def _octal(n: int, width: int) -> bytes:
    """Zero-padded octal field with trailing NUL, POSIX style."""
    return f"{n:0{width - 1}o}".encode("ascii") + b"\x00"


def _make_header(name: str, size: int) -> bytes:
    h = bytearray(_BLOCK)
    nb = name.encode("ascii")
    h[0 : len(nb)] = nb
    h[100:108] = _octal(0o644, 8)  # mode
    h[108:116] = _octal(0, 8)  # uid
    h[116:124] = _octal(0, 8)  # gid
    h[124:136] = _octal(size, 12)  # size
    h[136:148] = _octal(0, 12)  # mtime
    h[148:156] = b" " * 8  # chksum blanked for the sum
    h[156] = ord("0")  # typeflag: regular file
    h[257:263] = b"ustar\x00"  # magic
    h[263:265] = b"00"  # version
    chk = sum(h)
    h[148:156] = f"{chk:06o}".encode("ascii") + b"\x00 "
    return bytes(h)


def _parse_header(block: bytes) -> tuple[str, int] | None:
    """Validate one ustar header block; returns (name, size) or None."""
    if len(block) != _BLOCK:
        return None
    if block[257:263] != b"ustar\x00":
        return None
    try:
        stored = int(block[148:155].rstrip(b"\x00 ").decode("ascii"), 8)
    except ValueError:
        return None
    blanked = bytearray(block)
    blanked[148:156] = b" " * 8
    if sum(blanked) != stored:
        return None
    try:
        size = int(
            block[124:135].rstrip(b"\x00 ").decode("ascii") or "0", 8
        )
    except ValueError:
        return None
    if block[156] != ord("0"):
        return None
    name = block[0:100].rstrip(b"\x00").decode("latin-1")
    if not name:
        return None
    return name, size


def _walk_tar(data: bytes) -> dict | None:
    pos, end = 0, len(data)
    n = total = psum = 0
    first_name = ""
    while True:
        if pos + _BLOCK > end:
            return None
        block = data[pos : pos + _BLOCK]
        if block == b"\x00" * _BLOCK:
            # EOF: exactly one more zero block, then exact end
            if pos + 2 * _BLOCK != end:
                return None
            if data[pos + _BLOCK : pos + 2 * _BLOCK] != b"\x00" * _BLOCK:
                return None
            break
        parsed = _parse_header(block)
        if parsed is None:
            return None
        name, size = parsed
        if n == 0:
            first_name = name
        padded = (size + _BLOCK - 1) // _BLOCK * _BLOCK
        if pos + _BLOCK + padded > end:
            return None
        payload = data[pos + _BLOCK : pos + _BLOCK + size]
        # padding after the payload must be zeros (POSIX)
        if any(data[pos + _BLOCK + size : pos + _BLOCK + padded]):
            return None
        n += 1
        total += size
        psum += sum(payload)
        pos += _BLOCK + padded
    if n == 0:
        return None
    return {
        "n_members": n,
        "total_payload": total,
        "payload_sum": psum,
        "n_blocks": end // _BLOCK,
        "first_name": first_name,
    }


def tar_member_stats(df: DataFrame) -> DataFrame:
    """ustar member walk over MEDIA_SCHEMA blobs (see module doc)."""
    return blob_stats(df, _walk_tar, TAR_SCHEMA, "tar")


def _make_tar(i: int) -> bytes:
    """Deterministic ustar shard: ``3 + i % 6`` members named
    ``doc_{i}_{j}.txt`` with LCG payloads of ``100 + (i*37 + 53*j) %
    400`` bytes; every 10th id truncated mid-payload."""
    parts = []
    for j in range(3 + i % 6):
        size = 100 + (i * 37 + 53 * j) % 400
        payload = bytes((i * 11 + 7 * j + 3 * k) % 256 for k in range(size))
        padded = (size + _BLOCK - 1) // _BLOCK * _BLOCK
        parts.append(
            _make_header(f"doc_{i}_{j}.txt", size)
            + payload
            + b"\x00" * (padded - size)
        )
    blob = b"".join(parts) + b"\x00" * (2 * _BLOCK)
    return blob[: len(blob) - 700] if i % 10 == 0 else blob


def synthesize_tar_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of ustar shards (WebDataset shape)."""
    return synthesize_blobs(docs, _make_tar, blob_meta("tar"))
