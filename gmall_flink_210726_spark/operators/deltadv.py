r"""Delta Lake DELETION VECTORS — the merge-on-read delete layer
(delta.io PROTOCOL.md "Deletion Vectors"): an ``add`` action may
carry a ``deletionVector`` descriptor marking rows of its parquet
file as logically deleted WITHOUT rewriting the file. At 100 TB
this is what makes row-level DELETE/UPDATE affordable: a kilobyte
bitmap supersedes a 128 MB file rewrite, and the scan subtracts
positions on the fly.

Descriptor fields: ``storageType`` ('u' = in a deletion-vector
FILE named by a base85 UUID with an optional random prefix; 'i' =
the whole DV inlined as base85 in the descriptor), ``offset`` into
the file, ``sizeInBytes`` of the serialized DV, and ``cardinality``
(how many rows it deletes — claimed, and CHECKED against the
decode). The DV file layout: a 1-byte format version (1), then
each DV as ``<int32 BE dataSize> <data> <int32 BE CRC-32 of
data>``; ``data`` is Delta's RoaringBitmapArray (magic 1681511377
+ int64 bitmap count + portable 32-bit roaring bitmaps —
``operators/roaring.py``). Real writers pack MANY DVs into one
file at different offsets; the fixture does too.

Protocol gate: a table whose adds carry DVs must declare
``minReaderVersion`` 3 with ``deletionVectors`` in
``readerFeatures``; an unknown reader feature refuses the table
(forward-compat, same stance as ``operators/deltalog.py``).

The merge-on-read scan composes four from-scratch layers: tar walk
-> log replay (last add per path wins WITH its newest DV — the
upgrade path of a second DELETE) -> hand parquet column decode ->
DV resolve/decode, then subtracts deleted positions from the live
rows and the column aggregate. Trust chain checked end to end:
add.size vs file bytes, stats.numRecords vs the actual decode
(PHYSICAL rows — a DV never changes stats), DV CRC, descriptor
cardinality vs decoded cardinality, and every deleted position
must fall inside its file.
"""

from __future__ import annotations

import json
import struct
import uuid as _uuid
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from gmall_flink_210726_spark.operators.deltalog import (
    _collect_commits,
)
from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.roaring import (
    b85_decode,
    b85_encode,
    rbm_array_decode,
    rbm_array_encode,
)
from gmall_flink_210726_spark.operators.tar import _BLOCK, _make_header
from gmall_flink_210726_spark.operators.wds import _iter_tar_members

_READER_FEATURES_KNOWN = {"deletionVectors"}


# --------------------------------------------------------------------------
# replay with deletion-vector descriptors
# --------------------------------------------------------------------------


def _replay_state_dv(
    commits: dict[int, bytes],
) -> tuple[dict[str, tuple[int, int, dict | None]], int] | None:
    """Ordered replay like deltalog._replay_state, additionally
    carrying each live add's ``deletionVector`` descriptor (the
    LAST add per path wins with its newest DV). Tables using DVs
    must declare reader version 3 + the deletionVectors feature;
    any unknown reader feature refuses the table."""
    n = len(commits)
    live: dict[str, tuple[int, int, dict | None]] = {}
    n_commits = n
    saw_protocol = saw_meta = False
    dv_allowed = False
    any_dv = False
    for v in range(n):
        for line in commits[v].split(b"\n"):
            if not line.strip():
                continue
            try:
                action = json.loads(line.decode("utf-8"))
            except (ValueError, UnicodeDecodeError):
                return None
            if not isinstance(action, dict):
                return None
            if "protocol" in action:
                p = action["protocol"]
                if not isinstance(p, dict) or not isinstance(
                    p.get("minReaderVersion"), int
                ):
                    return None
                mrv = p["minReaderVersion"]
                if mrv > 3:
                    return None  # refuse, never guess
                if mrv == 3:
                    feats = p.get("readerFeatures")
                    if not isinstance(feats, list) or not set(
                        feats
                    ) <= _READER_FEATURES_KNOWN:
                        return None
                    dv_allowed = "deletionVectors" in feats
                saw_protocol = True
            elif "metaData" in action:
                md = action["metaData"]
                if not isinstance(md, dict) or "id" not in md:
                    return None
                saw_meta = True
            elif "add" in action:
                a = action["add"]
                if (
                    not isinstance(a, dict)
                    or not isinstance(a.get("path"), str)
                    or not isinstance(a.get("size"), int)
                ):
                    return None
                path = a["path"]
                try:
                    rows = int(json.loads(a.get("stats"))["numRecords"])
                except (TypeError, ValueError, KeyError):
                    return None
                dv = a.get("deletionVector")
                if dv is not None:
                    if not isinstance(dv, dict):
                        return None
                    any_dv = True
                if path in live and live[path][0] != a["size"]:
                    return None  # re-add must agree on the bytes
                live[path] = (a["size"], rows, dv)
            elif "remove" in action:
                r = action["remove"]
                if not isinstance(r, dict) or r.get("path") not in live:
                    return None
                del live[r["path"]]
            elif "commitInfo" in action:
                pass
            else:
                return None
        if v == 0 and not (saw_protocol and saw_meta):
            return None
    if any_dv and not dv_allowed:
        return None  # DVs without the protocol feature declared
    return live, n_commits


# --------------------------------------------------------------------------
# descriptor resolution + DV decode
# --------------------------------------------------------------------------


def _resolve_dv_data(
    desc: dict, parts: dict[str, bytes]
) -> bytes | None:
    """Descriptor -> the serialized RoaringBitmapArray bytes, with
    every framing field checked."""
    st = desc.get("storageType")
    enc = desc.get("pathOrInlineDv")
    size = desc.get("sizeInBytes")
    if not isinstance(enc, str) or not isinstance(size, int) or size <= 0:
        return None
    if st == "i":
        try:
            raw = b85_decode(enc)
        except ValueError:
            return None
        if not size <= len(raw) <= size + 3:
            return None
        if any(raw[size:]):
            return None  # base85 pad must be zero bytes
        return raw[:size]
    if st == "u":
        if len(enc) < 20:
            return None
        prefix, enc_uuid = enc[:-20], enc[-20:]
        try:
            ub = b85_decode(enc_uuid)
        except ValueError:
            return None
        name = f"deletion_vector_{_uuid.UUID(bytes=ub)}.bin"
        if prefix:
            name = f"{prefix}/{name}"
        blob = parts.get(name)
        off = desc.get("offset")
        if blob is None or not isinstance(off, int):
            return None
        if len(blob) < 1 or blob[0] != 1:  # format version
            return None
        if off < 1 or off + 8 + size > len(blob):
            return None
        (dsize,) = struct.unpack_from(">I", blob, off)
        if dsize != size:
            return None
        data = blob[off + 4 : off + 4 + size]
        (crc,) = struct.unpack_from(">I", blob, off + 4 + size)
        if zlib.crc32(data) != crc:
            return None
        return data
    return None  # 'p' (absolute path) has no home inside one blob


def _decode_dv(
    desc: dict, parts: dict[str, bytes]
) -> list[int] | None:
    data = _resolve_dv_data(desc, parts)
    if data is None:
        return None
    try:
        positions = rbm_array_decode(data)
    except ValueError:
        return None
    if len(positions) != desc.get("cardinality"):
        return None  # the descriptor must not lie about cardinality
    return positions


# --------------------------------------------------------------------------
# the merge-on-read scan
# --------------------------------------------------------------------------


def scan_delta_table_mor(data: bytes) -> dict | None:
    """Full merge-on-read Delta scan: log replay with DVs, hand
    parquet decode of every live file, deleted positions subtracted
    from rows and the column aggregate."""
    members = _iter_tar_members(data)
    if members is None:
        return None
    commit_members = []
    parts: dict[str, bytes] = {}
    for name, payload in members:
        if name.startswith("_delta_log/"):
            commit_members.append((name[len("_delta_log/") :], payload))
        else:
            parts[name] = payload
    commits = _collect_commits(commit_members)
    if commits is None:
        return None
    state = _replay_state_dv(commits)
    if state is None:
        return None
    live, n_commits = state
    from gmall_flink_210726_spark.operators.parquetmeta import (
        read_parquet_column_k,
    )

    live_rows = k_sum = deleted_rows = dv_count = 0
    for path, (size, rows, dv) in live.items():
        blob = parts.get(path)
        if blob is None or len(blob) != size:
            return None
        col = read_parquet_column_k(blob, collect_values=True)
        if col is None or col["n_values"] != rows:
            return None  # stats count PHYSICAL rows, DV or not
        vals = col["values"]
        if dv is None:
            live_rows += rows
            k_sum += col["k_sum"]
            continue
        positions = _decode_dv(dv, parts)
        if positions is None:
            return None
        if positions and positions[-1] >= rows:
            return None  # a deleted position outside its file
        dv_count += 1
        deleted_rows += len(positions)
        live_rows += rows - len(positions)
        k_sum += col["k_sum"] - sum(vals[p] for p in positions)
    return {
        "n_commits": n_commits,
        "live_files": len(live),
        "dv_count": dv_count,
        "deleted_rows": deleted_rows,
        "live_rows": live_rows,
        "k_sum": k_sum,
    }


# --------------------------------------------------------------------------
# Spark plumbing
# --------------------------------------------------------------------------

DVSCAN_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_commits", LongType()),
        StructField("live_files", LongType()),
        StructField("dv_count", LongType()),
        StructField("deleted_rows", LongType()),
        StructField("live_rows", LongType()),
        StructField("k_sum", LongType()),
    ]
)


def delta_dv_scan_stats(df: DataFrame) -> DataFrame:
    """Merge-on-read Delta scan over MEDIA_SCHEMA blobs."""
    return blob_stats(df, scan_delta_table_mor, DVSCAN_SCHEMA, "delta")


# --------------------------------------------------------------------------
# fixtures
# --------------------------------------------------------------------------


def _file_rows(i: int, f: int) -> int:
    return 40 + ((i + f) % 3) * 20


def _k_val(i: int, f: int, j: int) -> int:
    return (13 * i + 29 * f + 11 * j) % 3000


def _deleted(i: int, f: int, rows: int) -> list[int]:
    run = set(range(5, 7 + (i + f) % 6))
    scatter = {j for j in range(rows) if j % 7 == (i + f) % 7}
    return sorted(run | scatter)


def _make_part(i: int, f: int) -> bytes:
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = _file_rows(i, f)
    t = pa.table(
        {
            "k": pa.array(
                [_k_val(i, f, j) for j in range(rows)], pa.int64()
            )
        }
    )
    buf = io.BytesIO()
    pq.write_table(
        t,
        buf,
        compression="NONE",
        use_dictionary=False,
        write_statistics=False,
        version="1.0",
    )
    return buf.getvalue()


def _make_delta_dv_table(
    i: int, bad_stripe: int = 13, lie_stripe: int = 9
) -> bytes:
    """``2 + i%3`` part files. Commit 1 adds them all — file 0 with a
    PARTIAL deletion vector (the run only); commit 2 re-adds file 0
    with the full DV (the second-DELETE upgrade path the replay must
    honor last-wins). The last file carries NO DV on even ids. File
    0's DV always lives in the shared deletion-vector FILE ('u',
    packed at distinct offsets, prefix on every 4th id); other
    descriptors rotate file/inline. Every ``bad_stripe``-th id flips
    one byte inside the first packed DV's bitmap data — framing
    still parses, only the CRC catches it. Every ``lie_stripe``-th
    id overstates file 0's final descriptor cardinality by one —
    only the decoded-cardinality check catches it."""
    m = 2 + i % 3
    parts: list[tuple[str, bytes]] = []
    blobs = {}
    for f in range(m):
        blob = _make_part(i, f)
        blobs[f] = blob
        parts.append((f"part-{f:05d}.parquet", blob))
    uuid_bytes = bytes((i * 5 + t * 11) % 256 for t in range(16))
    prefix = "ab" if i % 4 == 0 else ""
    dv_file = bytearray(b"\x01")
    lie = i % lie_stripe == 0 and i % bad_stripe != 0

    def pack_u(positions: list[int]) -> dict:
        data = rbm_array_encode(positions)
        off = len(dv_file)
        dv_file.extend(struct.pack(">I", len(data)))
        dv_file.extend(data)
        dv_file.extend(struct.pack(">I", zlib.crc32(data)))
        return {
            "storageType": "u",
            "pathOrInlineDv": prefix + b85_encode(uuid_bytes),
            "offset": off,
            "sizeInBytes": len(data),
            "cardinality": len(positions),
        }

    def pack_i(positions: list[int]) -> dict:
        data = rbm_array_encode(positions)
        return {
            "storageType": "i",
            "pathOrInlineDv": b85_encode(data),
            "sizeInBytes": len(data),
            "cardinality": len(positions),
        }

    def add_action(f: int, dv: dict | None) -> bytes:
        a = {
            "path": f"part-{f:05d}.parquet",
            "partitionValues": {},
            "size": len(blobs[f]),
            "modificationTime": 0,
            "dataChange": True,
            "stats": json.dumps({"numRecords": _file_rows(i, f)}),
        }
        if dv is not None:
            a["deletionVector"] = dv
        return json.dumps({"add": a}).encode()

    c0 = [
        json.dumps(
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                    "writerFeatures": ["deletionVectors"],
                }
            }
        ).encode(),
        json.dumps({"metaData": {"id": f"tbl-{i}", "format": {}}}).encode(),
    ]
    # commit 1: file 0 with the PARTIAL DV (run only), the rest full
    partial0 = sorted(range(5, 7 + i % 6))
    c1 = [add_action(0, pack_u(partial0))]
    for f in range(1, m):
        rows = _file_rows(i, f)
        if f == m - 1 and i % 2 == 0:
            c1.append(add_action(f, None))
            continue
        dels = _deleted(i, f, rows)
        c1.append(
            add_action(f, pack_u(dels) if (i + f) % 2 == 0 else pack_i(dels))
        )
    # commit 2: the second DELETE on file 0 — full DV supersedes
    full0 = _deleted(i, 0, _file_rows(i, 0))
    desc0 = pack_u(full0)
    if lie:
        desc0["cardinality"] += 1
    c2 = [add_action(0, desc0)]
    if i % bad_stripe == 0:
        # the flip must land in a DV the FINAL state actually reads —
        # file 0's full DV from commit 2 (a flip in the superseded
        # partial DV is invisible, the unread-lie property)
        dv_file[desc0["offset"] + 4 + 13] ^= 0xFF
    dv_name = f"deletion_vector_{_uuid.UUID(bytes=uuid_bytes)}.bin"
    if prefix:
        dv_name = f"{prefix}/{dv_name}"
    parts.append((dv_name, bytes(dv_file)))
    for v, lines in enumerate((c0, c1, c2)):
        parts.append(
            (f"_delta_log/{v:020d}.json", b"\n".join(lines) + b"\n")
        )
    out = []
    for name, payload in parts:
        pad = (-len(payload)) % _BLOCK
        out.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(out) + b"\x00" * (2 * _BLOCK)


def synthesize_delta_dv_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of Delta tables with deletion vectors."""
    return synthesize_blobs(docs, _make_delta_dv_table, blob_meta("delta"), partitions)
