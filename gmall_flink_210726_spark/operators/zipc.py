"""REAL ZIP (PKWARE APPNOTE) central-directory walk over binary
columns.

The second archive-container decoder beside ``operators/tar.py``: the
ZIP grammar is the structural inverse of tar's streaming headers — the
authoritative index lives at the END (End-Of-Central-Directory record
found by back-scan, then the central directory), and each central
entry must cross-check against its local file header. This walk is
what an ingestion pipeline runs to index a zip corpus without
decompressing: entry names, sizes, offsets — plus a REAL CRC-32
verification of every STORED payload (zlib.crc32), the integrity
check the format was designed around.

Corrupt-stripe contract: a missing/garbled EOCD, central/local
signature mismatch, name disagreement between central and local
records, CRC mismatch, or out-of-range offsets degrade the row to
``format='unknown'``.

Scale design: Arrow-batched mapInPandas; integer stats per archive
shuffle, payloads never do.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)

ZIP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_entries", LongType()),
        StructField("total_bytes", LongType()),
        StructField("payload_sum", LongType()),
        StructField("cd_size", LongType()),
        StructField("first_name", StringType()),
    ]
)

_LOCAL_SIG = b"PK\x03\x04"
_CENTRAL_SIG = b"PK\x01\x02"
_EOCD_SIG = b"PK\x05\x06"


def _iter_zip_entries(
    data: bytes,
) -> tuple[list[tuple[bytes, bytes]], int] | None:
    """Shared STORED-zip central-directory grammar ->
    ``([(name, payload)], cd_size)`` with the per-member CRC32 proof
    and local-header cross-checks; None on any violation.  Both the
    classic walk below and the NPZ reader (`operators/npz.py`)
    build on this single copy."""
    end = len(data)
    # EOCD back-scan (comment may pad up to 64 KiB; scan what's there)
    scan_from = max(0, end - 22 - 65535)
    eocd = data.rfind(_EOCD_SIG, scan_from)
    if eocd < 0 or eocd + 22 > end:
        return None
    (disk, cddisk, n_this, n_total, cdsize, cdoff, clen) = struct.unpack_from(
        "<HHHHIIH", data, eocd + 4
    )
    if disk != 0 or cddisk != 0 or n_this != n_total or n_total == 0:
        return None
    if eocd + 22 + clen != end:
        return None
    if cdoff + cdsize != eocd:
        return None
    pos = cdoff
    members: list[tuple[bytes, bytes]] = []
    for _ in range(n_total):
        if pos + 46 > eocd or data[pos : pos + 4] != _CENTRAL_SIG:
            return None
        (
            _vm, _vn, flags, method, _t, _d, crc, csize, usize,
            nlen, elen, comlen, _dsk, _ia, _ea, lho,
        ) = struct.unpack_from("<HHHHHHIIIHHHHHII", data, pos + 4)
        if flags != 0 or method != 0 or csize != usize:
            return None  # STORED only, no flags
        name = data[pos + 46 : pos + 46 + nlen]
        # cross-check against the local file header
        if lho + 30 + nlen > eocd or data[lho : lho + 4] != _LOCAL_SIG:
            return None
        (l_nlen, l_elen) = struct.unpack_from("<HH", data, lho + 26)
        if l_nlen != nlen or data[lho + 30 : lho + 30 + nlen] != name:
            return None
        body = lho + 30 + l_nlen + l_elen
        if body + usize > eocd:
            return None
        payload = data[body : body + usize]
        if zlib.crc32(payload) != crc:
            return None  # the REAL integrity check
        members.append((name, payload))
        pos += 46 + nlen + elen + comlen
    if pos != eocd:
        return None
    return members, cdsize


def _walk_zip(data: bytes) -> dict | None:
    got = _iter_zip_entries(data)
    if got is None:
        return None
    members, cdsize = got
    return {
        "n_entries": len(members),
        "total_bytes": sum(len(p) for _n, p in members),
        "payload_sum": sum(sum(p) for _n, p in members),
        "cd_size": cdsize,
        "first_name": members[0][0].decode("latin-1"),
    }


def zip_entry_stats(df: DataFrame) -> DataFrame:
    """ZIP central-directory walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, _walk_zip, ZIP_SCHEMA, "zip")


def _make_zip(i: int) -> bytes:
    """Deterministic STORED-only zip: ``2 + i % 5`` entries named
    ``f_{i}_{j}.bin`` with LCG payloads of ``40 + (i*29 + 17*j) % 200``
    bytes and REAL CRC-32s; every 12th id loses its EOCD tail."""
    locals_ = bytearray()
    centrals = bytearray()
    offsets = []
    n = 2 + i % 5
    for j in range(n):
        name = f"f_{i}_{j}.bin".encode("ascii")
        size = 40 + (i * 29 + 17 * j) % 200
        payload = bytes((i * 23 + 11 * j + 5 * k) % 256 for k in range(size))
        crc = zlib.crc32(payload)
        offsets.append(len(locals_))
        locals_ += (
            _LOCAL_SIG
            + struct.pack("<HHHHHIIIHH", 20, 0, 0, 0, 0, crc, size, size,
                          len(name), 0)
            + name
            + payload
        )
        centrals += (
            _CENTRAL_SIG
            + struct.pack(
                "<HHHHHHIIIHHHHHII",
                20, 20, 0, 0, 0, 0, crc, size, size,
                len(name), 0, 0, 0, 0, 0, offsets[-1],
            )
            + name
        )
    cdoff = len(locals_)
    eocd = _EOCD_SIG + struct.pack(
        "<HHHHIIH", 0, 0, n, n, len(centrals), cdoff, 0
    )
    blob = bytes(locals_ + centrals + eocd)
    return blob[: len(blob) - 30] if i % 12 == 0 else blob


def synthesize_zip_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of STORED-only zip archives."""
    return synthesize_blobs(docs, _make_zip, blob_meta("zip"))


# --------------------------------------------------------------------------
# ZIP64 (APPNOTE 4.3.14/4.5.3): the >4 GiB / >65535-entry format —
# sentinel 0xFFFF/0xFFFFFFFF fields redirect to the ZIP64
# end-of-central-directory record (via its locator) and to per-entry
# 0x0001 extra fields carrying the real 64-bit values, IN ORDER, for
# exactly the fields that hit the sentinel.
# --------------------------------------------------------------------------

_EOCD64_SIG = b"PK\x06\x06"
_LOC64_SIG = b"PK\x06\x07"


def _walk_zip64(data: bytes) -> dict | None:
    """ZIP64 central-directory walk: classic EOCD with sentinel
    counts -> locator -> ZIP64 EOCD -> central entries whose
    0xFFFFFFFF size/offset fields resolve through their 0x0001 extra
    (the ordered-subset rule); every STORED payload CRC-verified.
    None on any grammar/books violation — a missing locator, a
    misplaced ZIP64 EOCD, an extra field missing a required u64."""
    end = len(data)
    scan_from = max(0, end - 22 - 65535)
    eocd = data.rfind(_EOCD_SIG, scan_from)
    if eocd < 0 or eocd + 22 > end:
        return None
    (disk, cddisk, n_this, n_total, cdsize32, cdoff32, clen) = (
        struct.unpack_from("<HHHHIIH", data, eocd + 4)
    )
    if eocd + 22 + clen != end:
        return None
    if not (
        n_this == n_total == 0xFFFF
        and cdsize32 == cdoff32 == 0xFFFFFFFF
    ):
        return None  # not a zip64 archive: the classic walk's job
    loc = eocd - 20
    if loc < 0 or data[loc : loc + 4] != _LOC64_SIG:
        return None  # sentinel EOCD demands the locator
    (ldisk, eocd64_off, ndisks) = struct.unpack_from(
        "<IQI", data, loc + 4
    )
    if ldisk != 0 or ndisks != 1:
        return None
    if (
        eocd64_off + 56 > len(data)
        or data[eocd64_off : eocd64_off + 4] != _EOCD64_SIG
    ):
        return None
    (
        rec_size, _vm, _vn, d64, cdd64, n_this64, n_total64,
        cdsize, cdoff,
    ) = struct.unpack_from("<QHHIIQQQQ", data, eocd64_off + 4)
    if rec_size != 44 or d64 != 0 or cdd64 != 0:
        return None
    if n_this64 != n_total64 or n_total64 == 0:
        return None
    if cdoff + cdsize != eocd64_off or eocd64_off + 56 != loc:
        return None  # cd must abut the zip64 eocd, eocd the locator
    pos = cdoff
    n = total = psum = n_extras = 0
    first_name = ""
    for _ in range(n_total64):
        if pos + 46 > eocd64_off or data[pos : pos + 4] != _CENTRAL_SIG:
            return None
        (
            _vm2, _vn2, flags, method, _t, _d, crc, csize, usize,
            nlen, elen, comlen, _dsk, _ia, _ea, lho,
        ) = struct.unpack_from("<HHHHHHIIIHHHHHII", data, pos + 4)
        if flags != 0 or method != 0:
            return None
        name = data[pos + 46 : pos + 46 + nlen]
        extra = data[pos + 46 + nlen : pos + 46 + nlen + elen]
        needed = []
        if usize == 0xFFFFFFFF:
            needed.append("usize")
        if csize == 0xFFFFFFFF:
            needed.append("csize")
        if lho == 0xFFFFFFFF:
            needed.append("lho")
        vals = {"usize": usize, "csize": csize, "lho": lho}
        if needed:
            ep = 0
            found = False
            while ep + 4 <= len(extra):
                (hid, hlen) = struct.unpack_from("<HH", extra, ep)
                body = extra[ep + 4 : ep + 4 + hlen]
                if len(body) != hlen:
                    return None
                if hid == 0x0001:
                    if hlen != 8 * len(needed):
                        return None  # exactly the sentinel fields
                    for k, fname in enumerate(needed):
                        (vals[fname],) = struct.unpack_from(
                            "<Q", body, 8 * k
                        )
                    found = True
                    n_extras += 1
                ep += 4 + hlen
            if not found:
                return None  # sentinel with no zip64 extra
        if vals["csize"] != vals["usize"]:
            return None  # STORED
        lho_v, usize_v = vals["lho"], vals["usize"]
        if lho_v + 30 + nlen > eocd64_off:
            return None
        if data[lho_v : lho_v + 4] != _LOCAL_SIG:
            return None
        (l_nlen, l_elen) = struct.unpack_from("<HH", data, lho_v + 26)
        if l_nlen != nlen or data[
            lho_v + 30 : lho_v + 30 + nlen
        ] != name:
            return None
        body_at = lho_v + 30 + l_nlen + l_elen
        if body_at + usize_v > eocd64_off:
            return None
        payload = data[body_at : body_at + usize_v]
        if zlib.crc32(payload) != crc:
            return None
        if n == 0:
            first_name = name.decode("latin-1")
        n += 1
        total += usize_v
        psum += sum(payload)
        pos += 46 + nlen + elen + comlen
    if pos != eocd64_off:
        return None
    return {
        "n_entries": n,
        "total_bytes": total,
        "payload_sum": psum,
        "cd_size": cdsize,
        "n_zip64_extras": n_extras,
        "first_name": first_name,
    }


ZIP64_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_entries", LongType()),
        StructField("total_bytes", LongType()),
        StructField("payload_sum", LongType()),
        StructField("cd_size", LongType()),
        StructField("n_zip64_extras", LongType()),
        StructField("first_name", StringType()),
    ]
)


def zip64_entry_stats(df: DataFrame) -> DataFrame:
    """ZIP64 walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, _walk_zip64, ZIP64_SCHEMA, "zip64")


def _z64_size(i: int, j: int) -> int:
    return 40 + (i * 31 + 13 * j) % 200


def _make_zip64(i: int) -> bytes:
    """ZIP64 fixture: ``3 + i % 5`` STORED entries named
    ``z_{i}_{j}.bin``; even entries sentinel their LOCAL-HEADER
    OFFSET (zip64 extra carries one u64), odd entries sentinel both
    SIZES (extra carries two, in spec order) — the ordered-subset
    rule exercised both ways; classic EOCD is all sentinels behind
    the locator + ZIP64 EOCD. Lies: every 13th id's locator offset
    is off by one; every 17th-miss id's last extra drops a required
    u64; every 19th-miss id's ZIP64 EOCD overstates the entry count
    — all refuse."""
    locals_ = bytearray()
    centrals = bytearray()
    n = 3 + i % 5
    for j in range(n):
        name = f"z_{i}_{j}.bin".encode("ascii")
        size = _z64_size(i, j)
        payload = bytes(
            (i * 19 + 7 * j + 3 * k) % 256 for k in range(size)
        )
        crc = zlib.crc32(payload)
        lho = len(locals_)
        locals_ += (
            _LOCAL_SIG
            + struct.pack(
                "<HHHHHIIIHH", 45, 0, 0, 0, 0, crc, size, size,
                len(name), 0,
            )
            + name
            + payload
        )
        if j % 2 == 0:  # sentinel the offset
            c_usize = c_csize = size
            c_lho = 0xFFFFFFFF
            extra_vals = [lho]
        else:  # sentinel both sizes
            c_usize = c_csize = 0xFFFFFFFF
            c_lho = lho
            extra_vals = [size, size]
        if (
            i % 17 == 0
            and i % 13 != 0
            and j == n - 1
        ):
            extra_vals = extra_vals[:-1]  # drop a required u64
        extra = struct.pack("<HH", 0x0001, 8 * len(extra_vals))
        extra += b"".join(struct.pack("<Q", v) for v in extra_vals)
        centrals += (
            _CENTRAL_SIG
            + struct.pack(
                "<HHHHHHIIIHHHHHII",
                45, 45, 0, 0, 0, 0, crc, c_csize, c_usize,
                len(name), len(extra), 0, 0, 0, 0, c_lho,
            )
            + name
            + extra
        )
    cdoff = len(locals_)
    n_claim = n
    if i % 19 == 0 and i % 13 != 0 and i % 17 != 0:
        n_claim += 1
    eocd64 = _EOCD64_SIG + struct.pack(
        "<QHHIIQQQQ", 44, 45, 45, 0, 0, n_claim, n_claim,
        len(centrals), cdoff,
    )
    eocd64_off = cdoff + len(centrals)
    loc_off = eocd64_off
    if i % 13 == 0:
        loc_off += 1  # locator lie
    locator = _LOC64_SIG + struct.pack("<IQI", 0, loc_off, 1)
    eocd = _EOCD_SIG + struct.pack(
        "<HHHHIIH",
        0, 0, 0xFFFF, 0xFFFF, 0xFFFFFFFF, 0xFFFFFFFF, 0,
    )
    return bytes(locals_ + centrals + eocd64 + locator + eocd)


def synthesize_zip64_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of ZIP64 archives."""
    return synthesize_blobs(docs, _make_zip64, blob_meta("zip"))
