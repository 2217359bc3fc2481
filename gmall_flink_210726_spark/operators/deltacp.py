r"""Delta CHECKPOINT parquet — the log-compaction layer that makes a
long-lived table readable (delta.io PROTOCOL.md "Checkpoints"):
``_delta_log/_last_checkpoint`` names a parquet file holding the
POST-REPLAY state at some version V (one action per row: a
protocol row, a metaData row, one add per live file, remove
tombstones), and a reader starts there and replays only the JSON
commits AFTER V. Without checkpoints a 10-year-old table means
replaying millions of JSON commits; with them it's one parquet
read plus a handful of tail commits.

The checkpoint's shape is parquet's union-by-struct-null: top-level
OPTIONAL STRUCT columns (add / remove / metaData / protocol) where
exactly one struct is non-null per row. The hand reader walks each
leaf chain (definition levels only, max_rep=0) with a GENERIC leaf
decoder spanning four physical types — INT64, BYTE_ARRAY, INT32,
and bit-packed PLAIN BOOLEAN (the latter two new to the repo's
parquet surface; booleans are LSB-first single bits per the spec).

The fixture OMITS the pre-checkpoint JSON commits entirely — the
only way to reconstruct the table is to actually use the
checkpoint, so "accidentally still replaying from 0" cannot pass.
Trust chain: ``_last_checkpoint.size`` must equal the actual
decoded action-row count (the lie stripe), every tail remove must
target a live file, exactly one action struct per row, add.path
present whenever the add struct is, stats.numRecords vs the actual
per-file column decode, and add.size vs the file's true bytes.
"""

from __future__ import annotations

import json
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
    _decode_rle_hybrid,
    _page_decompress,
    column_chunk,
    read_footer,
    read_page,
)
from gmall_flink_210726_spark.operators.tar import _BLOCK, _make_header
from gmall_flink_210726_spark.operators.wds import _iter_tar_members

# ------------------------------------------------ generic leaf decode


def _read_struct_leaf(
    data: bytes, meta: dict, path: tuple[bytes, ...], ptype: int
) -> list | None:
    """Decode one max_def=2 / max_rep=0 leaf across all row groups:
    returns one entry per ROW — None for struct-null, ("null",) for
    field-null, else the value. PLAIN only; physical types INT64(2),
    INT32(1), BOOLEAN(0, bit-packed LSB-first), BYTE_ARRAY(6).
    ``meta`` is the file's ``read_footer``."""
    out: list = []
    for rg in meta[4]:
        chunk = column_chunk(rg, path)
        if chunk is None:
            return None
        if chunk.get(1) != ptype or chunk.get(4) != 0:  # PLAIN/NONE
            return None
        n_vals = chunk.get(5)
        pos = chunk.get(9)
        if not isinstance(n_vals, int) or not isinstance(pos, int):
            return None
        got = 0
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
            if not isinstance(pn, int):
                return None
            page = _page_decompress(page, 0, ph[2])
            if page is None or len(page) < 4:
                return None
            (dlen,) = struct.unpack_from("<I", page, 0)
            try:
                defs = _decode_rle_hybrid(page[4 : 4 + dlen], pn, 2)
            except ValueError:
                return None
            if len(defs) != pn or any(d > 2 for d in defs):
                return None
            body = page[4 + dlen :]
            n_present = sum(1 for d in defs if d == 2)
            vals: list = []
            if ptype == 2:
                if len(body) != 8 * n_present:
                    return None
                vals = list(struct.unpack(f"<{n_present}q", body))
            elif ptype == 1:
                if len(body) != 4 * n_present:
                    return None
                vals = list(struct.unpack(f"<{n_present}i", body))
            elif ptype == 0:
                if len(body) != (n_present + 7) // 8:
                    return None
                vals = [
                    bool(body[k >> 3] >> (k & 7) & 1)
                    for k in range(n_present)
                ]
            elif ptype == 6:
                bp = 0
                for _ in range(n_present):
                    if bp + 4 > len(body):
                        return None
                    (sl,) = struct.unpack_from("<I", body, bp)
                    bp += 4
                    if bp + sl > len(body):
                        return None
                    vals.append(body[bp : bp + sl])
                    bp += sl
                if bp != len(body):
                    return None
            else:
                return None
            vi = 0
            for d in defs:
                if d == 0:
                    out.append(None)
                elif d == 1:
                    out.append(("null",))
                else:
                    out.append(vals[vi])
                    vi += 1
            got += pn
        if got != n_vals:
            return None
    if len(out) != meta.get(3):
        return None
    return out


_LEAVES = {
    "add_path": ((b"add", b"path"), 6),
    "add_size": ((b"add", b"size"), 2),
    "add_mtime": ((b"add", b"modificationTime"), 2),
    "add_dc": ((b"add", b"dataChange"), 0),
    "add_stats": ((b"add", b"stats"), 6),
    "remove_path": ((b"remove", b"path"), 6),
    "meta_id": ((b"metaData", b"id"), 6),
    "proto_mrv": ((b"protocol", b"minReaderVersion"), 1),
}


def _decode_leaves(
    blob: bytes, leaf_spec: dict
) -> tuple[dict, int] | None:
    """Footer walk + every leaf of ``leaf_spec`` -> (columns, rows)."""
    meta = read_footer(blob)
    if meta is None:
        return None
    leaves = {}
    for name, (path, ptype) in leaf_spec.items():
        col = _read_struct_leaf(blob, meta, path, ptype)
        if col is None:
            return None
        leaves[name] = col
    return leaves, meta[3]


def _replay_tail_commits(
    files: dict[str, bytes], v: int, live: dict
) -> int | None:
    """Apply the JSON commits AFTER checkpoint version ``v`` to the
    live-file map; contiguity + never-added-remove refusal. Returns
    the tail-commit count (shared by the v1 and v2 readers)."""
    tail: dict[int, bytes] = {}
    for name, payload in files.items():
        if not name.startswith("_delta_log/") or not name.endswith(
            ".json"
        ):
            continue
        base = name[len("_delta_log/") : -5]
        if len(base) != 20 or not base.isdigit():
            return None
        tv = int(base)
        if tv <= v:
            return None  # pre-checkpoint commits were compacted away
        if tv in tail:
            return None
        tail[tv] = payload
    n_tail = len(tail)
    if sorted(tail) != list(range(v + 1, v + 1 + n_tail)):
        return None
    for tv in sorted(tail):
        for line in tail[tv].split(b"\n"):
            if not line.strip():
                continue
            try:
                action = json.loads(line.decode("utf-8"))
            except (ValueError, UnicodeDecodeError):
                return None
            if "add" in action:
                a = action["add"]
                try:
                    rows = int(json.loads(a["stats"])["numRecords"])
                    live[a["path"]] = (int(a["size"]), rows)
                except (ValueError, KeyError, TypeError):
                    return None
            elif "remove" in action:
                p = action["remove"].get("path")
                if p not in live:
                    return None  # removing a never-live file
                del live[p]
            elif "commitInfo" in action:
                pass
            else:
                return None
    return n_tail


def _verify_live_files(
    files: dict[str, bytes], live: dict
) -> tuple[int, int] | None:
    """Every live add's declared size and stats.numRecords vs the
    actual hand parquet decode -> (live_rows, k_sum)."""
    from gmall_flink_210726_spark.operators.parquetmeta import (
        read_parquet_column_k,
    )

    live_rows = k_sum = 0
    for path, (size, rows) in live.items():
        blob = files.get(path)
        if blob is None or len(blob) != size:
            return None
        col = read_parquet_column_k(blob)
        if col is None or col["n_values"] != rows:
            return None
        live_rows += rows
        k_sum += col["k_sum"]
    return live_rows, k_sum


def read_delta_checkpoint_table(data: bytes) -> dict | None:
    """_last_checkpoint -> checkpoint parquet (struct-leaf decode) ->
    tail-commit replay -> live files hand-decoded and cross-checked."""
    from gmall_flink_210726_spark.operators.parquetmeta import (
        read_parquet_column_k,
    )

    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    last = files.get("_delta_log/_last_checkpoint")
    if last is None:
        return None
    try:
        lc = json.loads(last.decode("utf-8"))
        v = int(lc["version"])
        declared_size = int(lc["size"])
    except (ValueError, KeyError, TypeError, UnicodeDecodeError):
        return None
    ckpt = files.get(f"_delta_log/{v:020d}.checkpoint.parquet")
    got = None if ckpt is None else _decode_leaves(ckpt, _LEAVES)
    if got is None:
        return None
    leaves, n_rows = got
    if n_rows != declared_size:
        return None  # _last_checkpoint.size must tell the truth
    live: dict[str, tuple[int, int]] = {}
    saw_protocol = saw_meta = False
    n_tombstones = 0
    for r in range(n_rows):
        present = [
            leaves["add_path"][r] is not None,
            leaves["remove_path"][r] is not None,
            leaves["meta_id"][r] is not None,
            leaves["proto_mrv"][r] is not None,
        ]
        if sum(present) != 1:
            return None  # exactly one action struct per row
        if present[0]:
            path = leaves["add_path"][r]
            size = leaves["add_size"][r]
            stats = leaves["add_stats"][r]
            if (
                not isinstance(path, bytes)
                or not isinstance(size, int)
                or not isinstance(stats, bytes)
            ):
                return None  # required-in-practice fields
            if not isinstance(leaves["add_dc"][r], bool):
                return None
            try:
                rows = int(json.loads(stats.decode())["numRecords"])
            except (ValueError, KeyError, UnicodeDecodeError):
                return None
            name = path.decode("utf-8")
            if name in live:
                return None
            live[name] = (size, rows)
        elif present[1]:
            if not isinstance(leaves["remove_path"][r], bytes):
                return None
            n_tombstones += 1
        elif present[2]:
            saw_meta = True
        else:
            mrv = leaves["proto_mrv"][r]
            if not isinstance(mrv, int) or mrv > 2:
                return None
            saw_protocol = True
    if not (saw_protocol and saw_meta):
        return None
    n_tail = _replay_tail_commits(files, v, live)
    if n_tail is None:
        return None
    verified = _verify_live_files(files, live)
    if verified is None:
        return None
    live_rows, k_sum = verified
    return {
        "checkpoint_version": v,
        "n_actions": n_rows,
        "n_tombstones": n_tombstones,
        "n_tail_commits": n_tail,
        "live_files": len(live),
        "live_rows": live_rows,
        "k_sum": k_sum,
    }


# ------------------------------------------------------ Spark plumbing

DELTACP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("checkpoint_version", LongType()),
        StructField("n_actions", LongType()),
        StructField("n_tombstones", LongType()),
        StructField("n_tail_commits", LongType()),
        StructField("live_files", LongType()),
        StructField("live_rows", LongType()),
        StructField("k_sum", LongType()),
    ]
)


def delta_checkpoint_stats(df: DataFrame) -> DataFrame:
    """Checkpoint-accelerated Delta scan over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_delta_checkpoint_table, DELTACP_SCHEMA, "delta")


# ------------------------------------------------------------ fixtures


def _cp_rows(i: int, f: int) -> int:
    return 30 + ((i + f) % 4) * 10


def _cp_k(i: int, f: int, j: int) -> int:
    return (19 * i + 7 * f + 3 * j) % 2000


def _cp_part(i: int, f: int) -> bytes:
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = _cp_rows(i, f)
    buf = io.BytesIO()
    pq.write_table(
        pa.table(
            {"k": pa.array([_cp_k(i, f, j) for j in range(rows)], pa.int64())}
        ),
        buf,
        compression="NONE",
        use_dictionary=False,
        write_statistics=False,
        version="1.0",
    )
    return buf.getvalue()


def _make_delta_checkpoint_table(
    i: int, bad_stripe: int = 13, lie_stripe: int = 9
) -> bytes:
    """Checkpoint at version 2 holding protocol + metaData + ``2 +
    i%2`` live adds + one remove tombstone, with the pre-checkpoint
    JSON commits OMITTED (only the checkpoint can reconstruct the
    state); one tail commit (version 3) adds a new file and, on odd
    ids, removes file 0. Every ``bad_stripe``-th id's tail remove
    targets a file the checkpoint never added (replay must refuse);
    every ``lie_stripe``-th id's ``_last_checkpoint.size`` is off by
    one (only the actual row decode catches it)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    m = 2 + i % 2
    members: list[tuple[str, bytes]] = []
    blobs = {}
    for f in range(m + 1):
        blob = _cp_part(i, f)
        blobs[f] = blob
        members.append((f"part-{f:05d}.parquet", blob))

    def _add(f: int) -> dict:
        return {
            "path": f"part-{f:05d}.parquet",
            "size": len(blobs[f]),
            # field-null definition levels: even ids null this out
            "modificationTime": None if i % 2 == 0 else 1000 + f,
            "dataChange": (i + f) % 2 == 0,
            "stats": json.dumps({"numRecords": _cp_rows(i, f)}),
        }

    rows = (
        [
            {"add": None, "remove": None, "metaData": None,
             "protocol": {"minReaderVersion": 1}},
            {"add": None, "remove": None,
             "metaData": {"id": f"tbl-{i}"}, "protocol": None},
        ]
        + [
            {"add": _add(f), "remove": None, "metaData": None,
             "protocol": None}
            for f in range(m)
        ]
        + [
            {"add": None, "remove": {"path": "gone-long-ago.parquet"},
             "metaData": None, "protocol": None}
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    table = pa.table(
        {
            "add": pa.array([r["add"] for r in rows], add_t),
            "remove": pa.array(
                [r["remove"] for r in rows],
                pa.struct([("path", pa.string())]),
            ),
            "metaData": pa.array(
                [r["metaData"] for r in rows],
                pa.struct([("id", pa.string())]),
            ),
            "protocol": pa.array(
                [r["protocol"] for r in rows],
                pa.struct([("minReaderVersion", pa.int32())]),
            ),
        }
    )
    buf = io.BytesIO()
    pq.write_table(
        buf_table := table,
        buf,
        compression="NONE",
        use_dictionary=False,
        write_statistics=False,
        version="1.0",
    )
    del buf_table
    members.append(
        (f"_delta_log/{2:020d}.checkpoint.parquet", buf.getvalue())
    )
    size = len(rows) + (
        1 if (i % lie_stripe == 0 and i % bad_stripe != 0) else 0
    )
    members.append(
        (
            "_delta_log/_last_checkpoint",
            json.dumps({"version": 2, "size": size}).encode(),
        )
    )
    tail = [
        json.dumps(
            {
                "add": {
                    "path": f"part-{m:05d}.parquet",
                    "size": len(blobs[m]),
                    "stats": json.dumps(
                        {"numRecords": _cp_rows(i, m)}
                    ),
                }
            }
        ).encode()
    ]
    if i % bad_stripe == 0:
        tail.append(
            json.dumps(
                {"remove": {"path": "never-added.parquet"}}
            ).encode()
        )
    elif i % 2 == 1:
        tail.append(
            json.dumps(
                {"remove": {"path": "part-00000.parquet"}}
            ).encode()
        )
    members.append(
        (f"_delta_log/{3:020d}.json", b"\n".join(tail) + b"\n")
    )
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_delta_checkpoint_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of checkpointed Delta tables."""
    return synthesize_blobs(docs, _make_delta_checkpoint_table, blob_meta("delta"))


# ------------------------------------------------------ V2 checkpoints
# delta.io PROTOCOL.md "V2 Checkpoint Table Feature": the checkpoint
# at version V is a UUID-named MANIFEST parquet
# (<V>.checkpoint.<uuid>.parquet) holding checkpointMetadata +
# protocol + metaData + SIDECAR pointer rows; the file actions
# (add/remove) live in sidecar parquet parts under
# _delta_log/_sidecars/<uuid>.parquet. This is what current writers
# emit on feature-enabled tables; readers must require
# minReaderVersion 3.

_V2_MAIN_LEAVES = {
    "cm_version": ((b"checkpointMetadata", b"version"), 2),
    "sidecar_path": ((b"sidecar", b"path"), 6),
    "sidecar_size": ((b"sidecar", b"sizeInBytes"), 2),
    "meta_id": ((b"metaData", b"id"), 6),
    "proto_mrv": ((b"protocol", b"minReaderVersion"), 1),
}

_SIDECAR_LEAVES = {
    "add_path": ((b"add", b"path"), 6),
    "add_size": ((b"add", b"size"), 2),
    "add_dc": ((b"add", b"dataChange"), 0),
    "add_stats": ((b"add", b"stats"), 6),
    "remove_path": ((b"remove", b"path"), 6),
}


def read_delta_v2_checkpoint_table(data: bytes) -> dict | None:
    """_last_checkpoint -> UUID-named v2 checkpoint manifest ->
    sidecar parquet parts -> tail-commit replay -> live files
    hand-decoded. Trust chain: _last_checkpoint.size vs the TOTAL
    decoded action count (manifest + sidecars), exactly one
    checkpointMetadata row whose version equals V, protocol
    minReaderVersion == 3 (the v2Checkpoint reader requirement),
    each sidecar's sizeInBytes vs the member's true byte size, one
    action per row everywhere, duplicate adds across sidecars
    refused, and the v1 live-file decode checks."""
    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    last = files.get("_delta_log/_last_checkpoint")
    if last is None:
        return None
    try:
        lc = json.loads(last.decode("utf-8"))
        v = int(lc["version"])
        declared_size = int(lc["size"])
    except (ValueError, KeyError, TypeError, UnicodeDecodeError):
        return None
    prefix = f"_delta_log/{v:020d}.checkpoint."
    manifests = [
        n
        for n in files
        if n.startswith(prefix)
        and n.endswith(".parquet")
        and len(n) == len(prefix) + 36 + len(".parquet")
    ]
    if len(manifests) != 1:
        return None  # exactly one UUID-named manifest
    got = _decode_leaves(files[manifests[0]], _V2_MAIN_LEAVES)
    if got is None:
        return None
    leaves, n_main = got
    n_sidecars = 0
    cm_seen = saw_meta = saw_proto = False
    sidecars: list[tuple[str, int]] = []
    for r in range(n_main):
        present = [
            leaves["cm_version"][r] is not None,
            leaves["sidecar_path"][r] is not None,
            leaves["meta_id"][r] is not None,
            leaves["proto_mrv"][r] is not None,
        ]
        if sum(present) != 1:
            return None
        if present[0]:
            if cm_seen or leaves["cm_version"][r] != v:
                return None  # exactly one, and it names V
            cm_seen = True
        elif present[1]:
            path = leaves["sidecar_path"][r]
            size = leaves["sidecar_size"][r]
            if not isinstance(path, bytes) or not isinstance(size, int):
                return None
            sidecars.append((path.decode("utf-8"), size))
            n_sidecars += 1
        elif present[2]:
            saw_meta = True
        else:
            if leaves["proto_mrv"][r] != 3:
                return None  # v2Checkpoint requires reader v3
            saw_proto = True
    if not (cm_seen and saw_meta and saw_proto):
        return None
    live: dict[str, tuple[int, int]] = {}
    n_tombstones = 0
    n_side_actions = 0
    for name, size in sidecars:
        blob = files.get(f"_delta_log/_sidecars/{name}")
        if blob is None or len(blob) != size:
            return None  # sizeInBytes must tell the truth
        got = _decode_leaves(blob, _SIDECAR_LEAVES)
        if got is None:
            return None
        sl, n_rows = got
        n_side_actions += n_rows
        for r in range(n_rows):
            is_add = sl["add_path"][r] is not None
            is_rem = sl["remove_path"][r] is not None
            if int(is_add) + int(is_rem) != 1:
                return None  # sidecars hold ONLY file actions
            if is_add:
                path = sl["add_path"][r]
                fsize = sl["add_size"][r]
                stats = sl["add_stats"][r]
                if (
                    not isinstance(path, bytes)
                    or not isinstance(fsize, int)
                    or not isinstance(stats, bytes)
                    or not isinstance(sl["add_dc"][r], bool)
                ):
                    return None
                try:
                    rows = int(
                        json.loads(stats.decode())["numRecords"]
                    )
                except (ValueError, KeyError, UnicodeDecodeError):
                    return None
                pname = path.decode("utf-8")
                if pname in live:
                    return None  # duplicate add across sidecars
                live[pname] = (fsize, rows)
            else:
                n_tombstones += 1
    if n_main + n_side_actions != declared_size:
        return None  # _last_checkpoint.size covers manifest+sidecars
    n_tail = _replay_tail_commits(files, v, live)
    if n_tail is None:
        return None
    verified = _verify_live_files(files, live)
    if verified is None:
        return None
    live_rows, k_sum = verified
    return {
        "checkpoint_version": v,
        "n_main_actions": n_main,
        "n_sidecars": n_sidecars,
        "n_sidecar_actions": n_side_actions,
        "n_tombstones": n_tombstones,
        "n_tail_commits": n_tail,
        "live_files": len(live),
        "live_rows": live_rows,
        "k_sum": k_sum,
    }


DELTACP2_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("checkpoint_version", LongType()),
        StructField("n_main_actions", LongType()),
        StructField("n_sidecars", LongType()),
        StructField("n_sidecar_actions", LongType()),
        StructField("n_tombstones", LongType()),
        StructField("n_tail_commits", LongType()),
        StructField("live_files", LongType()),
        StructField("live_rows", LongType()),
        StructField("k_sum", LongType()),
    ]
)


def _uuid_for(i: int, j: int) -> str:
    return f"{i:08x}-0000-4000-8000-{j:012x}"


def _make_delta_v2_checkpoint_table(
    i: int,
    size_lie: int = 9,
    bad_remove: int = 13,
    sidecar_lie: int = 15,
) -> bytes:
    """V2 checkpoint at version 2: UUID-named manifest with
    checkpointMetadata + protocol(mrv=3) + metaData + ``1 + i%2``
    sidecar pointers; sidecar parquet parts carry the adds
    (round-robin) and one remove tombstone. One tail commit adds a
    file; odd ids remove file 0. Stripes: every ``size_lie``-th id's
    _last_checkpoint.size off by one; every ``bad_remove``-th id's
    tail remove targets a never-added file; every
    ``sidecar_lie``-th id inflates one sidecar's declared
    sizeInBytes by one."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    def _pq(table: pa.Table) -> bytes:
        buf = io.BytesIO()
        pq.write_table(
            table,
            buf,
            compression="NONE",
            use_dictionary=False,
            write_statistics=False,
            version="1.0",
        )
        return buf.getvalue()

    m = 2 + i % 2
    members: list[tuple[str, bytes]] = []
    blobs = {}
    for f in range(m + 1):
        blob = _cp_part(i, f)
        blobs[f] = blob
        members.append((f"part-{f:05d}.parquet", blob))

    n_side = 1 + i % 2
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("size", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    rem_t = pa.struct([("path", pa.string())])
    side_rows: list[list[dict]] = [[] for _ in range(n_side)]
    for f in range(m):
        side_rows[f % n_side].append(
            {
                "add": {
                    "path": f"part-{f:05d}.parquet",
                    "size": len(blobs[f]),
                    "dataChange": (i + f) % 2 == 0,
                    "stats": json.dumps({"numRecords": _cp_rows(i, f)}),
                },
                "remove": None,
            }
        )
    side_rows[0].append(
        {"add": None, "remove": {"path": "compacted-away.parquet"}}
    )
    side_blobs = []
    for j, rows in enumerate(side_rows):
        blob = _pq(
            pa.table(
                {
                    "add": pa.array([r["add"] for r in rows], add_t),
                    "remove": pa.array(
                        [r["remove"] for r in rows], rem_t
                    ),
                }
            )
        )
        name = f"{_uuid_for(i, j)}.parquet"
        side_blobs.append((name, blob, len(rows)))
        members.append((f"_delta_log/_sidecars/{name}", blob))

    cm_t = pa.struct([("version", pa.int64())])
    sc_t = pa.struct([("path", pa.string()), ("sizeInBytes", pa.int64())])
    meta_t = pa.struct([("id", pa.string())])
    proto_t = pa.struct([("minReaderVersion", pa.int32())])
    main = [
        {"cm": {"version": 2}, "sc": None, "md": None, "pr": None},
        {"cm": None, "sc": None, "md": None,
         "pr": {"minReaderVersion": 3}},
        {"cm": None, "sc": None, "md": {"id": f"tbl-{i}"}, "pr": None},
    ]
    for j, (name, blob, _nr) in enumerate(side_blobs):
        lie = 1 if (i % sidecar_lie == 0 and j == 0) else 0
        main.append(
            {
                "cm": None,
                "sc": {"path": name, "sizeInBytes": len(blob) + lie},
                "md": None,
                "pr": None,
            }
        )
    manifest = _pq(
        pa.table(
            {
                "checkpointMetadata": pa.array(
                    [r["cm"] for r in main], cm_t
                ),
                "sidecar": pa.array([r["sc"] for r in main], sc_t),
                "metaData": pa.array([r["md"] for r in main], meta_t),
                "protocol": pa.array([r["pr"] for r in main], proto_t),
            }
        )
    )
    members.append(
        (
            f"_delta_log/{2:020d}.checkpoint.{_uuid_for(i, 99)}.parquet",
            manifest,
        )
    )
    total = len(main) + sum(nr for _n, _b, nr in side_blobs)
    if i % size_lie == 0 and i % bad_remove != 0:
        total += 1
    members.append(
        (
            "_delta_log/_last_checkpoint",
            json.dumps(
                {
                    "version": 2,
                    "size": total,
                    "checkpointSchema": {"type": "struct"},
                }
            ).encode(),
        )
    )
    tail = [
        json.dumps(
            {
                "add": {
                    "path": f"part-{m:05d}.parquet",
                    "size": len(blobs[m]),
                    "stats": json.dumps({"numRecords": _cp_rows(i, m)}),
                }
            }
        ).encode()
    ]
    if i % bad_remove == 0:
        tail.append(
            json.dumps({"remove": {"path": "never-added.parquet"}}).encode()
        )
    elif i % 2 == 1:
        tail.append(
            json.dumps({"remove": {"path": "part-00000.parquet"}}).encode()
        )
    members.append(
        (f"_delta_log/{3:020d}.json", b"\n".join(tail) + b"\n")
    )
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_delta_v2_checkpoint_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of v2-checkpoint Delta table tars."""
    return synthesize_blobs(docs, _make_delta_v2_checkpoint_table, blob_meta("delta"))


def delta_v2_checkpoint_stats(df: DataFrame) -> DataFrame:
    """V2-checkpoint reads over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_delta_v2_checkpoint_table, DELTACP2_SCHEMA, "delta")
