r"""Git packfile + pack index walk (gitformat-pack(5), public git
documentation) — how code corpora actually arrive: a clone IS a pack,
and The-Stack-style source ingest reads packs, not checkouts.  The
full grammar is walked from the spec with every integrity layer the
format carries:

- pack: ``PACK`` magic, version 2, object count; per object a
  varint header (3-bit type + 7-bit-continued size), then a zlib
  stream (decoded by the repo's own RFC 1950/1951 inflate, Adler-32
  proven, decoded length must equal the header's claim); trailer =
  SHA-1 of everything before it.
- deltas: OFS_DELTA (negative-offset varint with the spec's +1 bias
  per continuation) and REF_DELTA (20-byte base id); the delta body
  declares base and result sizes (7-bit varints) then copy/insert
  commands — copy offset/size nibble-masked, the spec's size-0 =
  0x10000 rule honored; the base must exist (earlier object at that
  exact offset / that id), sizes must match the declaration.
- object identity: sha1(``"<type> <len>\0"`` + content) — every
  resolved object's id is RECOMPUTED and must appear in the idx.
- idx v2: ``\xfftOc2``, 256-entry fanout (bucket b = #ids with
  first byte <= b — monotonicity and the final total proven),
  sorted unique ids, per-object CRC32 of the PACKED bytes (the
  transport-integrity layer: it covers the compressed form, so a
  re-deflated-but-equal object would be caught), offsets back into
  the pack (each must land exactly on the object it names), the
  pack's trailer SHA-1 repeated (must match), and the idx's own
  trailing SHA-1 over its content.
- semantic layer: commits must reference an in-pack tree and parent
  chain; trees list ``mode name\0 id20`` entries in git's sort
  order, every id resolving to an in-pack blob.

Scale: one Arrow-batched ``mapInPandas`` map stage per blob — no
shuffle (the L17 multimodal pattern).  At 100 TB the pack+idx pair
is the unit of parallelism — one executor per pack, the idx giving
random access within it.

Reference parity note: the reference (gmall-flink Java) has no VCS
path; extends SURVEY §2.12's beyond-reference multimodal family.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from gmall_flink_210726_spark.operators.inflate import _inflate_at
from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.wire import _enc_uvarint, uvarint

_OBJ_COMMIT = 1
_OBJ_TREE = 2
_OBJ_BLOB = 3
_OBJ_TAG = 4
_OBJ_OFS_DELTA = 6
_OBJ_REF_DELTA = 7

_TYPE_NAMES = {1: b"commit", 2: b"tree", 3: b"blob", 4: b"tag"}


def _zlib_at(data: bytes, pos: int) -> tuple[bytes, int] | None:
    """Self-terminating zlib stream at pos -> (payload, end_pos)
    with CMF/FLG + Adler-32 proof via the repo's own inflate."""
    if pos + 6 > len(data):
        return None
    cmf, flg = data[pos], data[pos + 1]
    if cmf & 0x0F != 8 or cmf >> 4 > 7:
        return None
    if (cmf * 256 + flg) % 31 != 0 or flg & 0x20:
        return None
    try:
        payload, end = _inflate_at(data, pos + 2)
    except ValueError:
        return None
    if end + 4 > len(data):
        return None
    (adler,) = struct.unpack_from(">I", data, end)
    if zlib.adler32(payload) != adler:
        return None
    return payload, end + 4


def _obj_header(data: bytes, pos: int) -> tuple[int, int, int]:
    """Pack object header -> (type, size, new_pos): type and the low 4
    size bits in the first byte, the rest of the size as a varint."""
    if pos >= len(data):
        raise ValueError("gitpack: truncated object header")
    b0 = data[pos]
    size = b0 & 0x0F
    pos += 1
    if b0 & 0x80:
        rest, pos = uvarint(data, pos)
        size |= rest << 4
    return (b0 >> 4) & 7, size, pos


def _apply_delta(base: bytes, delta: bytes) -> bytes | None:
    try:
        base_size, p = uvarint(delta, 0)
        result_size, p = uvarint(delta, p)
    except ValueError:
        return None
    if base_size != len(base):
        return None  # the delta's own base-size books
    out = bytearray()
    while p < len(delta):
        cmd = delta[p]
        p += 1
        if cmd & 0x80:  # copy from base
            off = sz = 0
            for k in range(4):
                if cmd & (1 << k):
                    if p >= len(delta):
                        return None
                    off |= delta[p] << (8 * k)
                    p += 1
            for k in range(3):
                if cmd & (0x10 << k):
                    if p >= len(delta):
                        return None
                    sz |= delta[p] << (8 * k)
                    p += 1
            if sz == 0:
                sz = 0x10000
            if off + sz > len(base):
                return None
            out += base[off : off + sz]
        elif cmd:  # insert literal
            if p + cmd > len(delta):
                return None
            out += delta[p : p + cmd]
            p += cmd
        else:
            return None  # cmd 0 is reserved
    if len(out) != result_size:
        return None  # the delta's result-size books
    return bytes(out)


def _obj_sha(otype: int, content: bytes) -> bytes:
    h = hashlib.sha1(
        _TYPE_NAMES[otype] + b" %d\x00" % len(content)
    )
    h.update(content)
    return h.digest()


def read_git_pack(data: bytes) -> dict | None:
    """Tar(*.pack, *.idx) -> verified object census; None on any
    violation of the trust chain (module doc)."""
    from gmall_flink_210726_spark.operators.wds import _iter_tar_members

    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    pack = next(
        (v for k, v in files.items() if k.endswith(".pack")), None
    )
    idx = next(
        (v for k, v in files.items() if k.endswith(".idx")), None
    )
    if pack is None or idx is None or len(files) != 2:
        return None
    if len(pack) < 32 or pack[:4] != b"PACK":
        return None
    version, count = struct.unpack_from(">II", pack, 4)
    if version != 2:
        return None
    trailer = pack[-20:]
    if hashlib.sha1(pack[:-20]).digest() != trailer:
        return None  # the pack's own checksum
    # object walk
    pos = 12
    by_offset: dict[int, tuple[int, bytes]] = {}  # off -> (type, content)
    packed_span: dict[int, tuple[int, int]] = {}  # off -> (start, end)
    pending_ref: list[tuple[int, bytes, bytes]] = []
    for _ in range(count):
        obj_start = pos
        try:
            otype, size, pos = _obj_header(pack, pos)
        except ValueError:
            return None
        if otype == _OBJ_OFS_DELTA:
            if pos >= len(pack):
                return None
            b = pack[pos]
            off = b & 0x7F
            pos += 1
            while b & 0x80:
                if pos >= len(pack) or off > obj_start:
                    return None  # truncated, or a base before the pack
                b = pack[pos]
                off = ((off + 1) << 7) | (b & 0x7F)
                pos += 1
            base_off = obj_start - off
            got2 = _zlib_at(pack, pos)
            if got2 is None:
                return None
            delta, pos = got2
            if len(delta) != size:
                return None
            base = by_offset.get(base_off)
            if base is None:
                return None  # base must be an earlier object
            content = _apply_delta(base[1], delta)
            if content is None:
                return None
            by_offset[obj_start] = (base[0], content)
        elif otype == _OBJ_REF_DELTA:
            if pos + 20 > len(pack):
                return None
            base_id = pack[pos : pos + 20]
            pos += 20
            got2 = _zlib_at(pack, pos)
            if got2 is None:
                return None
            delta, pos = got2
            if len(delta) != size:
                return None
            pending_ref.append((obj_start, base_id, delta))
            by_offset[obj_start] = (-1, b"")  # placeholder
        elif otype in _TYPE_NAMES:
            got2 = _zlib_at(pack, pos)
            if got2 is None:
                return None
            content, pos = got2
            if len(content) != size:
                return None  # the header's size books
            by_offset[obj_start] = (otype, content)
        else:
            return None
        packed_span[obj_start] = (obj_start, pos)
    if pos != len(pack) - 20:
        return None  # objects must tile up to the trailer
    # first resolution pass for REF_DELTA (bases are full objects)
    ids: dict[bytes, int] = {}
    for off, (otype, content) in by_offset.items():
        if otype > 0:
            ids[_obj_sha(otype, content)] = off
    for off, base_id, delta in pending_ref:
        base_off = ids.get(base_id)
        if base_off is None:
            return None
        botype, bcontent = by_offset[base_off]
        if botype <= 0:
            return None  # delta-of-delta: out of fixture scope
        content = _apply_delta(bcontent, delta)
        if content is None:
            return None
        by_offset[off] = (botype, content)
        ids[_obj_sha(botype, content)] = off
    # idx v2 walk
    if len(idx) < 8 + 256 * 4 + 40 + 2 or idx[:4] != b"\xfftOc":
        return None
    if struct.unpack_from(">I", idx, 4)[0] != 2:
        return None
    if hashlib.sha1(idx[:-20]).digest() != idx[-20:]:
        return None  # the idx's own checksum
    if idx[-40:-20] != trailer:
        return None  # idx must name this exact pack
    fanout = struct.unpack_from(">256I", idx, 8)
    n = fanout[255]
    if n != count:
        return None
    base = 8 + 256 * 4
    need = base + n * 20 + n * 4 + n * 4 + 40
    if len(idx) != need:
        return None  # fixture scope: no 8-byte offset table
    shas = [
        idx[base + 20 * k : base + 20 * k + 20] for k in range(n)
    ]
    if shas != sorted(shas) or len(set(shas)) != n:
        return None
    for b in range(256):
        want = sum(1 for s in shas if s[0] <= b)
        if fanout[b] != want:
            return None  # fanout books
    crc_base = base + n * 20
    off_base = crc_base + n * 4
    n_by_type = {1: 0, 2: 0, 3: 0, 4: 0}
    n_deltas = len(pending_ref)
    blob_bytes = blob_byte_sum = 0
    seen_offsets = set()
    for k in range(n):
        (crc,) = struct.unpack_from(">I", idx, crc_base + 4 * k)
        (off,) = struct.unpack_from(">I", idx, off_base + 4 * k)
        if off & 0x80000000:
            return None  # >2 GiB packs out of fixture scope
        span = packed_span.get(off)
        if span is None or off in seen_offsets:
            return None  # offset must land exactly on an object
        seen_offsets.add(off)
        if zlib.crc32(pack[span[0] : span[1]]) != crc:
            return None  # per-object packed CRC books
        otype, content = by_offset[off]
        if _obj_sha(otype, content) != shas[k]:
            return None  # identity books
    if len(seen_offsets) != count:
        return None
    # semantic layer
    trees: dict[bytes, bytes] = {}
    blobs: set[bytes] = set()
    commits: list[bytes] = []
    for off, (otype, content) in by_offset.items():
        n_by_type[otype] += 1
        if otype == _OBJ_BLOB:
            blobs.add(_obj_sha(otype, content))
            blob_bytes += len(content)
            blob_byte_sum += sum(content)
        elif otype == _OBJ_TREE:
            trees[_obj_sha(otype, content)] = content
        elif otype == _OBJ_COMMIT:
            commits.append(content)
    for content in trees.values():
        p = 0
        prev_name = None
        while p < len(content):
            nul = content.find(b"\x00", p)
            if nul < 0 or nul + 21 > len(content):
                return None
            mode_name = content[p:nul]
            sp = mode_name.find(b" ")
            if sp <= 0:
                return None
            name = mode_name[sp + 1 :]
            if prev_name is not None and name <= prev_name:
                return None  # git's tree sort order
            prev_name = name
            entry_id = content[nul + 1 : nul + 21]
            if entry_id not in blobs:
                return None  # fixture trees hold blobs only
            p = nul + 21
    known_commit_ids = {
        _obj_sha(_OBJ_COMMIT, c) for c in commits
    }
    for content in commits:
        lines = content.split(b"\n")
        if not lines or not lines[0].startswith(b"tree "):
            return None
        tree_id = bytes.fromhex(lines[0][5:].decode("ascii"))
        if tree_id not in trees:
            return None  # commit must reference an in-pack tree
        for ln in lines[1:]:
            if ln.startswith(b"parent "):
                pid = bytes.fromhex(ln[7:].decode("ascii"))
                if pid not in known_commit_ids:
                    return None
    return {
        "n_objects": count,
        "n_blobs": n_by_type[_OBJ_BLOB],
        "n_trees": n_by_type[_OBJ_TREE],
        "n_commits": n_by_type[_OBJ_COMMIT],
        "n_deltas": n_deltas
        + sum(
            1
            for off, (t, _c) in by_offset.items()
            if packed_span[off]
            and _is_ofs_delta(pack, off)
        ),
        "blob_bytes": blob_bytes,
        "blob_byte_sum": blob_byte_sum,
    }


def _is_ofs_delta(pack: bytes, off: int) -> bool:
    return (pack[off] >> 4) & 7 == _OBJ_OFS_DELTA


GITPACK_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_objects", LongType()),
        StructField("n_blobs", LongType()),
        StructField("n_trees", LongType()),
        StructField("n_commits", LongType()),
        StructField("n_deltas", LongType()),
        StructField("blob_bytes", LongType()),
        StructField("blob_byte_sum", LongType()),
    ]
)


def git_pack_stats(df: DataFrame) -> DataFrame:
    """Verified pack+idx census over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_git_pack, GITPACK_SCHEMA, "git-pack")


# --------------------------------------------------------------------------
# Fixture synthesis: a deterministic mini-history packed by hand
# --------------------------------------------------------------------------


def _gp_nb(i: int) -> int:
    return 6 + i % 8


def _gp_nc(i: int) -> int:
    return 2 + i % 3


def _gp_blob_len(i: int, b: int) -> int:
    return 30 + (i + b) % 25


def _gp_blob_byte(i: int, b: int, j: int) -> int:
    return (7 * i + 11 * b + 3 * j) % 251


def _gp_blob(i: int, b: int) -> bytes:
    return bytes(
        _gp_blob_byte(i, b, j) for j in range(_gp_blob_len(i, b))
    )


def _enc_obj_header(otype: int, size: int) -> bytes:
    b0 = (otype << 4) | (size & 0x0F)
    size >>= 4
    out = bytearray()
    while size:
        out.append(b0 | 0x80)
        b0 = size & 0x7F
        size >>= 7
    out.append(b0)
    return bytes(out)


def _enc_ofs(off: int) -> bytes:
    # the spec's +1-bias big-endian-first varint
    parts = [off & 0x7F]
    off >>= 7
    while off:
        off -= 1
        parts.append(off & 0x7F)
        off >>= 7
    return bytes(
        (p | 0x80) if k < len(parts) - 1 else p
        for k, p in enumerate(reversed(parts))
    )


def _make_delta(base: bytes, result: bytes) -> bytes:
    """copy(shared prefix) + insert(rest) — enough to exercise both
    command kinds."""
    prefix = 0
    while (
        prefix < len(base)
        and prefix < len(result)
        and prefix < 20
        and base[prefix] == result[prefix]
    ):
        prefix += 1
    out = bytearray()
    out += _enc_uvarint(len(base))
    out += _enc_uvarint(len(result))
    if prefix:
        out += bytes([0x80 | 0x01 | 0x10, 0x00, prefix])
        # cmd: copy, offset byte 0 present (=0), size byte 0 present
    rest = result[prefix:]
    p = 0
    while p < len(rest):
        chunk = rest[p : p + 127]
        out += bytes([len(chunk)]) + chunk
        p += len(chunk)
    return bytes(out)


def make_git_pack(i: int) -> bytes:
    """Pack + idx: ``6+i%8`` blobs (every 3rd-from-2 an OFS_DELTA
    against the previous blob, every 7th-from-6 a REF_DELTA), one
    tree per commit (tree t lists the first nb-t blobs, git-sorted),
    ``2+i%3`` chained commits. Lies: every 13th id flips a bit in
    one idx CRC32 (the per-object packed-bytes books refuse); every
    17th-miss id flips a pack-trailer byte (the pack checksum
    refuses); every 19th-miss id overstates a delta's base-size
    varint (the delta books refuse)."""
    from gmall_flink_210726_spark.operators.tar import (
        _BLOCK,
        _make_header,
    )

    nb, nc = _gp_nb(i), _gp_nc(i)
    blobs = [_gp_blob(i, b) for b in range(nb)]
    blob_ids = [_obj_sha(_OBJ_BLOB, c) for c in blobs]
    trees = []
    for t in range(nc):
        entries = sorted(
            (b"f%02d" % b, blob_ids[b]) for b in range(nb - t)
        )
        content = b"".join(
            b"100644 " + name + b"\x00" + bid
            for name, bid in entries
        )
        trees.append(content)
    tree_ids = [_obj_sha(_OBJ_TREE, c) for c in trees]
    commits = []
    commit_ids: list[bytes] = []
    for t in range(nc):
        c = b"tree " + tree_ids[t].hex().encode() + b"\n"
        if t:
            c += b"parent " + commit_ids[t - 1].hex().encode() + b"\n"
        c += (
            b"author a <a@a> 0 +0000\n"
            b"committer a <a@a> 0 +0000\n\nc%d\n" % t
        )
        commits.append(c)
        commit_ids.append(_obj_sha(_OBJ_COMMIT, c))
    # pack assembly
    n_objects = nb + 2 * nc
    pack = bytearray(b"PACK" + struct.pack(">II", 2, n_objects))
    offsets: dict[bytes, int] = {}
    spans: dict[bytes, tuple[int, int]] = {}
    blob_offsets: list[int] = []

    def emit(otype: int, content: bytes, oid: bytes) -> None:
        start = len(pack)
        pack.extend(_enc_obj_header(otype, len(content)))
        pack.extend(zlib.compress(content, 6))
        offsets[oid] = start
        spans[oid] = (start, len(pack))

    for b, content in enumerate(blobs):
        oid = blob_ids[b]
        start = len(pack)
        if b % 3 == 2:
            delta = _make_delta(blobs[b - 1], content)
            if i % 19 == 0 and i % 13 != 0 and i % 17 != 0 and b == 2:
                delta = (
                    _enc_uvarint(len(blobs[b - 1]) + 1)
                    + delta[len(_enc_uvarint(len(blobs[b - 1]))) :]
                )
            pack.extend(
                _enc_obj_header(_OBJ_OFS_DELTA, len(delta))
            )
            pack.extend(_enc_ofs(start - blob_offsets[b - 1]))
            pack.extend(zlib.compress(delta, 6))
        elif b % 7 == 6:
            delta = _make_delta(blobs[b - 1], content)
            pack.extend(
                _enc_obj_header(_OBJ_REF_DELTA, len(delta))
            )
            pack.extend(blob_ids[b - 1])
            pack.extend(zlib.compress(delta, 6))
        else:
            pack.extend(_enc_obj_header(_OBJ_BLOB, len(content)))
            pack.extend(zlib.compress(content, 6))
        offsets[oid] = start
        spans[oid] = (start, len(pack))
        blob_offsets.append(start)
    for t in range(nc):
        emit(_OBJ_TREE, trees[t], tree_ids[t])
    for t in range(nc):
        emit(_OBJ_COMMIT, commits[t], commit_ids[t])
    trailer = hashlib.sha1(bytes(pack)).digest()
    if i % 17 == 0 and i % 13 != 0:
        trailer = bytes([trailer[0] ^ 1]) + trailer[1:]
    pack.extend(trailer)
    # idx v2
    all_ids = sorted(offsets)
    fanout = []
    for bkt in range(256):
        fanout.append(sum(1 for s in all_ids if s[0] <= bkt))
    idx = bytearray(b"\xfftOc" + struct.pack(">I", 2))
    idx += struct.pack(">256I", *fanout)
    for s in all_ids:
        idx += s
    for k, s in enumerate(all_ids):
        span = spans[s]
        crc = zlib.crc32(bytes(pack[span[0] : span[1]]))
        if i % 13 == 0 and k == 0:
            crc ^= 1
        idx += struct.pack(">I", crc)
    for s in all_ids:
        idx += struct.pack(">I", offsets[s])
    idx += bytes(pack[-20:])  # the pack checksum as stored
    idx += hashlib.sha1(bytes(idx)).digest()
    members = [
        ("objects/pack/pack-1.pack", bytes(pack)),
        ("objects/pack/pack-1.idx", bytes(idx)),
    ]
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_git_pack_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of git pack+idx pairs."""
    return synthesize_blobs(docs, make_git_pack, blob_meta("git"), partitions)
