"""Iceberg snapshot walk — the second table-format metadata layer
(apache/iceberg spec, public), composed from the repo's own Avro
machinery: Iceberg's manifest lists and manifests ARE Avro object
containers, so the schema-driven reader built for the Kafka ingest
path reads the lakehouse catalog path unchanged.

The metadata chain, implemented from the spec:

1. ``vN.metadata.json`` — table metadata: format-version, table
   uuid, the snapshot log, and ``current-snapshot-id`` selecting
   WHICH snapshot is live (the walk must follow it, not just take
   the last file: the fixture plants a DECOY older snapshot whose
   manifest list would give different totals);
2. the current snapshot's MANIFEST LIST (Avro): one record per
   manifest with its path, byte length and per-status file counts;
3. each MANIFEST (Avro): entries ``status`` (0 EXISTING / 1 ADDED /
   2 DELETED) + a nested ``data_file`` record (path, format,
   record_count, file_size_in_bytes).

Cross-checks at every hop: the manifest list's ``manifest_length``
must equal the referenced member's actual byte size, its per-status
counts must equal what the manifest actually contains, every
referenced file must exist in the blob, and DELETED entries are
excluded from live totals. Any Avro-layer violation (sync, CRC,
union bounds) degrades through the container reader itself.

Ships as one tar blob per table, like the Delta twin: the metadata
layer is the only thing a 100 TB planner reads. Arrow-batched
``mapInPandas``, zero shuffle.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.avro import (
    make_avro_container,
    read_avro_container,
)
from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.tar import _BLOCK, _make_header
from gmall_flink_210726_spark.operators.wds import _iter_tar_members

MLIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
    ],
}

MANIFEST_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}

ICEBERG_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_manifests", LongType()),
        StructField("n_added", LongType()),
        StructField("n_existing", LongType()),
        StructField("n_deleted", LongType()),
        StructField("live_files", LongType()),
        StructField("live_rows", LongType()),
        StructField("live_bytes", LongType()),
    ]
)


def read_iceberg_snapshot(data: bytes) -> dict | None:
    """Tar of metadata.json + Avro manifests -> current-snapshot
    live-file totals; None on any chain violation (module doc)."""
    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    meta_name = next(
        (n for n in files if n.endswith(".metadata.json")), None
    )
    if meta_name is None:
        return None
    try:
        meta = json.loads(files[meta_name].decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return None
    if not isinstance(meta, dict) or meta.get("format-version") != 2:
        return None
    cur = meta.get("current-snapshot-id")
    snaps = meta.get("snapshots")
    if not isinstance(cur, int) or not isinstance(snaps, list):
        return None
    snap = next(
        (
            s
            for s in snaps
            if isinstance(s, dict) and s.get("snapshot-id") == cur
        ),
        None,
    )
    return _snapshot_totals(files, snap)


def _snapshot_totals(files: dict, snap: dict | None) -> dict | None:
    """One snapshot's manifest-list walk -> live-file totals with the
    module-doc cross-checks; None on any violation."""
    if snap is None or not isinstance(snap.get("manifest-list"), str):
        return None
    mlist_blob = files.get(snap["manifest-list"])
    if mlist_blob is None:
        return None
    got = read_avro_container(mlist_blob)
    if got is None:
        return None
    mlist, _, _ = got
    out = {
        "n_manifests": len(mlist),
        "n_added": 0,
        "n_existing": 0,
        "n_deleted": 0,
        "live_files": 0,
        "live_rows": 0,
        "live_bytes": 0,
    }
    for mf in mlist:
        try:
            path = mf["manifest_path"]
            declared = mf["manifest_length"]
        except (TypeError, KeyError):
            return None
        blob = files.get(path)
        if blob is None or len(blob) != declared:
            return None  # the list must tell the truth about bytes
        g2 = read_avro_container(blob)
        if g2 is None:
            return None
        entries, _, _ = g2
        counts = {0: 0, 1: 0, 2: 0}
        for ent in entries:
            try:
                status = ent["status"]
                df = ent["data_file"]
                rows = df["record_count"]
                size = df["file_size_in_bytes"]
            except (TypeError, KeyError):
                return None
            if status not in counts:
                return None
            counts[status] += 1
            if status != 2:  # EXISTING + ADDED are live
                out["live_files"] += 1
                out["live_rows"] += rows
                out["live_bytes"] += size
        # the list's per-status counts must match the manifest
        if (
            counts[1] != mf.get("added_files_count")
            or counts[0] != mf.get("existing_files_count")
            or counts[2] != mf.get("deleted_files_count")
        ):
            return None
        out["n_added"] += counts[1]
        out["n_existing"] += counts[0]
        out["n_deleted"] += counts[2]
    return out


def read_iceberg_asof(data: bytes, asof_ms: int) -> dict | None:
    """TIME TRAVEL (``TIMESTAMP AS OF``, Iceberg spec table-metadata
    ``snapshot-log``): the snapshot whose log entry is the LATEST
    with ``timestamp-ms <= asof_ms``. The log must be strictly
    ascending in time (an out-of-order entry makes every as-of
    answer ambiguous — refuse), every entry's snapshot-id must
    resolve, and an as-of before the first entry refuses (the table
    did not exist yet). Totals come from the resolved snapshot's
    manifest list with the full trust chain."""
    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    meta_name = next(
        (n for n in files if n.endswith(".metadata.json")), None
    )
    if meta_name is None:
        return None
    try:
        meta = json.loads(files[meta_name].decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return None
    if not isinstance(meta, dict) or meta.get("format-version") != 2:
        return None
    log = meta.get("snapshot-log")
    snaps = meta.get("snapshots")
    if not isinstance(log, list) or not log or not isinstance(snaps, list):
        return None
    by_id = {
        s.get("snapshot-id"): s for s in snaps if isinstance(s, dict)
    }
    prev_ts = None
    chosen = None
    for ent in log:
        if (
            not isinstance(ent, dict)
            or not isinstance(ent.get("timestamp-ms"), int)
            or ent.get("snapshot-id") not in by_id
        ):
            return None
        ts = ent["timestamp-ms"]
        if prev_ts is not None and ts <= prev_ts:
            return None  # log must be strictly ascending
        prev_ts = ts
        if ts <= asof_ms:
            chosen = ent
    if chosen is None:
        return None  # as-of predates the table
    totals = _snapshot_totals(files, by_id[chosen["snapshot-id"]])
    if totals is None:
        return None
    return {
        "snapshot_ts_ms": chosen["timestamp-ms"],
        "n_snapshots": len(log),
        **totals,
    }


def iceberg_snapshot_stats(df: DataFrame) -> DataFrame:
    """Iceberg metadata-chain walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_iceberg_snapshot, ICEBERG_SCHEMA, "iceberg")


# --------------------------------------------------------------------------
# Fixture
# --------------------------------------------------------------------------


def _manifest_entries(i: int, m: int) -> list[dict]:
    out = []
    for e in range(2 + (i + m) % 3):
        s5 = (i + m + e) % 5
        status = 2 if s5 == 0 else (1 if s5 in (1, 2) else 0)
        out.append(
            {
                "status": status,
                "snapshot_id": None if e % 2 == 0 else 1000 + i,
                "data_file": {
                    "file_path": f"data/part-{m}-{e}.parquet",
                    "file_format": "PARQUET",
                    "record_count": 10 + (i + 7 * m + 3 * e) % 90,
                    "file_size_in_bytes": 500
                    + (11 * i + 13 * m + 17 * e) % 4000,
                },
            }
        )
    return out


def _make_iceberg_table(i: int, bad_stripe: int = 13) -> bytes:
    """``1 + i % 3`` manifests under the CURRENT snapshot, plus a
    DECOY older snapshot whose manifest list covers only manifest 0
    (picking the wrong snapshot shows up as wrong totals whenever
    M > 1). Avro codec rotates null/deflate by id. Every
    ``bad_stripe``-th id lies about manifest 0's byte length in the
    manifest list — the length cross-check must degrade."""
    nm = 1 + i % 3
    codec = ("null", "deflate")[i % 2]
    sync = bytes((i * 29 + 5 * k) % 256 for k in range(16))
    members: list[tuple[str, bytes]] = []
    mlist_cur = []
    for m in range(nm):
        entries = _manifest_entries(i, m)
        blob = make_avro_container(
            MANIFEST_SCHEMA, entries, codec=codec, sync=sync
        )
        name = f"manifest-{m}.avro"
        members.append((name, blob))
        counts = {0: 0, 1: 0, 2: 0}
        for ent in entries:
            counts[ent["status"]] += 1
        length = len(blob)
        if i % bad_stripe == 0 and m == 0:
            length += 1  # the lie the cross-check must catch
        mlist_cur.append(
            {
                "manifest_path": name,
                "manifest_length": length,
                "partition_spec_id": 0,
                "added_files_count": counts[1],
                "existing_files_count": counts[0],
                "deleted_files_count": counts[2],
            }
        )
    members.append(
        (
            "snap-current.avro",
            make_avro_container(
                MLIST_SCHEMA, mlist_cur, codec=codec, sync=sync
            ),
        )
    )
    # decoy: the older snapshot sees only manifest 0
    members.append(
        (
            "snap-old.avro",
            make_avro_container(
                MLIST_SCHEMA, mlist_cur[:1], codec=codec, sync=sync
            ),
        )
    )
    # snapshot-log for TIME TRAVEL (read_iceberg_asof); the snapshot
    # reader ignores it, so these lies strike ONLY the as-of path:
    # every 23rd id's older entry names a snapshot that does not
    # exist, every 29th-miss-23rd id's log runs backward in time
    ts0 = 1_700_000_000_000
    old_id = 1 if i % 23 == 0 else 1000 + i
    log = [
        {"timestamp-ms": ts0, "snapshot-id": old_id},
        {"timestamp-ms": ts0 + 60_000, "snapshot-id": 2000 + i},
    ]
    if i % 29 == 0 and i % 23 != 0:
        log = list(reversed(log))
    meta = {
        "format-version": 2,
        "table-uuid": f"0000-{i}",
        "current-snapshot-id": 2000 + i,
        "snapshot-log": log,
        "snapshots": [
            {"snapshot-id": 1000 + i, "manifest-list": "snap-old.avro"},
            {
                "snapshot-id": 2000 + i,
                "manifest-list": "snap-current.avro",
            },
        ],
    }
    members.append(
        (f"v{2 + i % 3}.metadata.json", json.dumps(meta).encode())
    )
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    parts.append(b"\x00" * (2 * _BLOCK))
    return b"".join(parts)


def synthesize_iceberg_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of Iceberg metadata chains (tar blobs)."""
    return synthesize_blobs(docs, _make_iceberg_table, blob_meta("iceberg"))


# --------------------------------------------------------------------------
# v2 POSITION DELETES — merge-on-read
# --------------------------------------------------------------------------

# Iceberg v2 (spec "Row-level deletes"): manifests are typed by a
# ``content`` field (0 data / 1 deletes), and delete manifests list
# POSITION DELETE FILES — parquet files with columns ``file_path``
# (the data file whose rows die) and ``pos`` (0-based row ordinal) —
# that the scan subtracts without rewriting data. The same
# merge-on-read idea as Delta's deletion vectors, expressed as a
# sorted (file_path, pos) table instead of a bitmap.

MLIST_SCHEMA_V2 = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},  # 0 data / 1 deletes
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
    ],
}

MANIFEST_SCHEMA_V2 = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    # 0 data / 1 position deletes / 2 equality deletes
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}


def _read_pos_delete_parquet(
    data: bytes,
) -> list[tuple[str, int]] | None:
    """Hand-read a position-delete parquet file: PLAIN BYTE_ARRAY
    ``file_path`` + PLAIN INT64 ``pos``, both nullable-written with
    all-1 def levels. Returns row-aligned (path, pos) pairs; the
    spec requires them sorted by (file_path, pos) and we CHECK it."""
    import struct as _struct

    from gmall_flink_210726_spark.operators.parquetmeta import (
        _page_decompress,
        column_chunk,
        read_footer,
        read_page,
        required_values,
    )

    meta = read_footer(data)
    if meta is None:
        return None
    num_rows, row_groups = meta[3], meta[4]
    paths: list[str] = []
    poss: list[int] = []
    for rg in row_groups:
        for name, ctype in ((b"file_path", 6), (b"pos", 2)):
            cm = column_chunk(rg, [name])
            if cm is None or len(rg[1]) != 2:
                return None  # exactly these two columns
            n_vals = cm.get(5)
            pos = cm.get(9)
            if cm.get(1) != ctype or cm.get(4) != 0:
                return None
            if not isinstance(n_vals, int) or not isinstance(pos, int):
                return None
            want_i64 = ctype == 2
            got = 0
            try:
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
                    page = _page_decompress(page, 0, ph[2])
                    body = None if page is None else required_values(page, pn)
                    if body is None:
                        return None
                    if want_i64:
                        if len(body) != 8 * pn:
                            return None
                        poss.extend(
                            _struct.unpack(f"<{pn}q", body)
                        )
                    else:
                        bp = 0
                        for _ in range(pn):
                            if bp + 4 > len(body):
                                return None
                            (sl,) = _struct.unpack_from(
                                "<I", body, bp
                            )
                            bp += 4
                            if bp + sl > len(body):
                                return None
                            paths.append(
                                body[bp : bp + sl].decode("utf-8")
                            )
                            bp += sl
                        if bp != len(body):
                            return None
                    got += pn
            except (ValueError, UnicodeDecodeError):
                return None
            if got != n_vals:
                return None
    if len(paths) != len(poss) or len(paths) != num_rows:
        return None
    pairs = list(zip(paths, poss))
    if pairs != sorted(pairs):
        return None  # the spec requires (file_path, pos) order
    return pairs


def read_iceberg_mor(data: bytes) -> dict | None:
    """Iceberg v2 merge-on-read scan: metadata.json -> CURRENT
    snapshot -> manifest list (content-typed) -> data manifests
    (live parquet files, hand-decoded) + delete manifests (position
    delete files, hand-decoded) -> live totals with deleted
    positions subtracted. Cross-checks: manifest_length truth,
    per-status counts, content flags consistent between manifest
    list and entries, delete record_count vs the actual decode,
    every deleted path referencing a live data file, every position
    inside its file, and data record_count vs the actual decode."""
    from gmall_flink_210726_spark.operators.parquetmeta import (
        read_parquet_column_k,
    )

    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    meta_name = next(
        (n for n in files if n.endswith(".metadata.json")), None
    )
    if meta_name is None:
        return None
    try:
        meta = json.loads(files[meta_name].decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return None
    if not isinstance(meta, dict) or meta.get("format-version") != 2:
        return None
    cur = meta.get("current-snapshot-id")
    snaps = meta.get("snapshots")
    if not isinstance(cur, int) or not isinstance(snaps, list):
        return None
    snap = next(
        (
            s
            for s in snaps
            if isinstance(s, dict) and s.get("snapshot-id") == cur
        ),
        None,
    )
    if snap is None or not isinstance(snap.get("manifest-list"), str):
        return None
    mlist_blob = files.get(snap["manifest-list"])
    if mlist_blob is None:
        return None
    got = read_avro_container(mlist_blob)
    if got is None:
        return None
    mlist, _, _ = got
    data_files: dict[str, dict] = {}
    delete_pairs: list[tuple[str, int]] = []
    n_data_manifests = n_delete_manifests = n_delete_files = 0
    for mf in mlist:
        try:
            path = mf["manifest_path"]
            declared = mf["manifest_length"]
            content = mf["content"]
        except (TypeError, KeyError):
            return None
        blob = files.get(path)
        if blob is None or len(blob) != declared:
            return None
        g2 = read_avro_container(blob)
        if g2 is None:
            return None
        entries, _, _ = g2
        counts = {0: 0, 1: 0, 2: 0}
        for ent in entries:
            try:
                status = ent["status"]
                df = ent["data_file"]
                fcontent = df["content"]
                fpath = df["file_path"]
                rows = df["record_count"]
                size = df["file_size_in_bytes"]
            except (TypeError, KeyError):
                return None
            if status not in counts:
                return None
            counts[status] += 1
            if status == 2:
                continue  # DELETED entries are not live
            blob2 = files.get(fpath)
            if blob2 is None or len(blob2) != size:
                return None
            if content == 0:
                if fcontent != 0:
                    return None  # a data manifest must list data
                data_files[fpath] = {"rows": rows, "blob": blob2}
            elif content == 1:
                if fcontent != 1:  # position deletes only
                    return None
                pairs = _read_pos_delete_parquet(blob2)
                if pairs is None or len(pairs) != rows:
                    return None  # record_count must tell the truth
                delete_pairs.extend(pairs)
                n_delete_files += 1
            else:
                return None
        if (
            counts[1] != mf.get("added_files_count")
            or counts[0] != mf.get("existing_files_count")
            or counts[2] != mf.get("deleted_files_count")
        ):
            return None
        if content == 0:
            n_data_manifests += 1
        else:
            n_delete_manifests += 1
    deleted_by: dict[str, set[int]] = {}
    for fpath, pos in delete_pairs:
        info = data_files.get(fpath)
        if info is None:
            return None  # a delete against no live data file
        if not 0 <= pos < info["rows"]:
            return None
        deleted_by.setdefault(fpath, set()).add(pos)
    live_rows = k_sum = deleted_rows = 0
    for fpath, info in data_files.items():
        col = read_parquet_column_k(info["blob"], collect_values=True)
        if col is None or col["n_values"] != info["rows"]:
            return None
        dels = deleted_by.get(fpath, ())
        deleted_rows += len(dels)
        live_rows += info["rows"] - len(dels)
        k_sum += col["k_sum"] - sum(col["values"][p] for p in dels)
    return {
        "n_data_manifests": n_data_manifests,
        "n_delete_manifests": n_delete_manifests,
        "data_files": len(data_files),
        "delete_files": n_delete_files,
        "deleted_rows": deleted_rows,
        "live_rows": live_rows,
        "k_sum": k_sum,
    }


ICEBERG_MOR_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_data_manifests", LongType()),
        StructField("n_delete_manifests", LongType()),
        StructField("data_files", LongType()),
        StructField("delete_files", LongType()),
        StructField("deleted_rows", LongType()),
        StructField("live_rows", LongType()),
        StructField("k_sum", LongType()),
    ]
)


def iceberg_mor_stats(df: DataFrame) -> DataFrame:
    """Iceberg v2 merge-on-read scan over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_iceberg_mor, ICEBERG_MOR_SCHEMA, "iceberg")


# ---------------------------------------------------------- MOR fixture


def _mor_rows(i: int, f: int) -> int:
    return 30 + ((i + f) % 4) * 15


def _mor_k(i: int, f: int, j: int) -> int:
    return (11 * i + 17 * f + 7 * j) % 2500


def _mor_deleted(i: int, f: int, rows: int) -> list[int]:
    if (i + f) % 3 == 0:
        return []  # this file is untouched by the delete file
    scatter = {j for j in range(rows) if j % 5 == (i + f) % 5}
    run = set(range(3, 3 + (i + f) % 4))
    return sorted(scatter | run)


def _mor_parquet(cols: dict) -> bytes:
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(
        pa.table(cols),
        buf,
        compression="NONE",
        use_dictionary=False,
        write_statistics=False,
        version="1.0",
    )
    return buf.getvalue()


def _make_iceberg_mor_table(
    i: int, bad_stripe: int = 13, lie_stripe: int = 9
) -> bytes:
    """``2 + i % 2`` real parquet data files + ONE position-delete
    parquet file covering every file with deletes (sorted by
    (file_path, pos) as the spec requires), chained through
    content-typed v2 manifests. A DECOY pre-delete snapshot (data
    manifest only) proves the walk follows current-snapshot-id.
    Every ``bad_stripe``-th id truncates the delete file by one byte
    (manifest file_size_in_bytes + parquet framing both break);
    every ``lie_stripe``-th id overstates the delete manifest's
    record_count by one — only the actual decode catches it."""
    import pyarrow as pa

    nf = 2 + i % 2
    codec = ("null", "deflate")[i % 2]
    sync = bytes((i * 31 + 7 * k) % 256 for k in range(16))
    members: list[tuple[str, bytes]] = []
    data_entries = []
    all_pairs: list[tuple[str, int]] = []
    for f in range(nf):
        rows = _mor_rows(i, f)
        path = f"data/part-{f:05d}.parquet"
        blob = _mor_parquet(
            {
                "k": pa.array(
                    [_mor_k(i, f, j) for j in range(rows)],
                    pa.int64(),
                )
            }
        )
        members.append((path, blob))
        data_entries.append(
            {
                "status": 1,
                "snapshot_id": None,
                "data_file": {
                    "content": 0,
                    "file_path": path,
                    "file_format": "PARQUET",
                    "record_count": rows,
                    "file_size_in_bytes": len(blob),
                },
            }
        )
        all_pairs.extend(
            (path, p) for p in _mor_deleted(i, f, rows)
        )
    all_pairs.sort()
    del_blob = _mor_parquet(
        {
            "file_path": pa.array(
                [p for p, _ in all_pairs], pa.string()
            ),
            "pos": pa.array([p for _, p in all_pairs], pa.int64()),
        }
    )
    if i % bad_stripe == 0:
        del_blob = del_blob[:-1]  # framing + size cross-check break
    members.append(("data/deletes-00000.parquet", del_blob))
    del_count = len(all_pairs)
    if i % lie_stripe == 0 and i % bad_stripe != 0:
        del_count += 1  # only the actual decode catches this
    delete_entries = [
        {
            "status": 1,
            "snapshot_id": None,
            "data_file": {
                "content": 1,
                "file_path": "data/deletes-00000.parquet",
                "file_format": "PARQUET",
                "record_count": del_count,
                "file_size_in_bytes": len(del_blob),
            },
        }
    ]
    man_data = make_avro_container(
        MANIFEST_SCHEMA_V2, data_entries, codec=codec, sync=sync
    )
    man_del = make_avro_container(
        MANIFEST_SCHEMA_V2, delete_entries, codec=codec, sync=sync
    )
    members.append(("manifest-data.avro", man_data))
    members.append(("manifest-del.avro", man_del))

    def _mf(name: str, blob: bytes, content: int, n: int) -> dict:
        return {
            "manifest_path": name,
            "manifest_length": len(blob),
            "partition_spec_id": 0,
            "content": content,
            "added_files_count": n,
            "existing_files_count": 0,
            "deleted_files_count": 0,
        }

    mlist_cur = [
        _mf("manifest-data.avro", man_data, 0, nf),
        _mf("manifest-del.avro", man_del, 1, 1),
    ]
    members.append(
        (
            "snap-current.avro",
            make_avro_container(
                MLIST_SCHEMA_V2, mlist_cur, codec=codec, sync=sync
            ),
        )
    )
    # decoy: the PRE-DELETE snapshot (data manifest only)
    members.append(
        (
            "snap-old.avro",
            make_avro_container(
                MLIST_SCHEMA_V2, mlist_cur[:1], codec=codec, sync=sync
            ),
        )
    )
    meta = {
        "format-version": 2,
        "table-uuid": f"0000-{i}",
        "current-snapshot-id": 2000 + i,
        "snapshots": [
            {"snapshot-id": 1000 + i, "manifest-list": "snap-old.avro"},
            {
                "snapshot-id": 2000 + i,
                "manifest-list": "snap-current.avro",
            },
        ],
    }
    members.append(
        (f"v{2 + i % 3}.metadata.json", json.dumps(meta).encode())
    )
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    parts.append(b"\x00" * (2 * _BLOCK))
    return b"".join(parts)


def synthesize_iceberg_mor_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of Iceberg v2 merge-on-read tables."""
    return synthesize_blobs(docs, _make_iceberg_mor_table, blob_meta("iceberg"))


# --------------------------------------------------------------------------
# v2 EQUALITY DELETES — the value-addressed delete flavor
# --------------------------------------------------------------------------

# Position deletes (read_iceberg_mor) kill (file, row) coordinates;
# EQUALITY deletes (spec content=2) kill every row whose key columns
# match a delete-file row — the shape CDC upserts land in. The
# manifest entry carries ``equality_ids`` naming the key fields.

MANIFEST_SCHEMA_EQ = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                    {
                        "name": "equality_ids",
                        "type": [
                            "null",
                            {"type": "array", "items": "int"},
                        ],
                    },
                ],
            },
        },
    ],
}


def read_iceberg_eqdel(data: bytes) -> dict | None:
    """Iceberg v2 equality-delete scan: delete manifests list parquet
    files of KEY VALUES (content=2, equality_ids=[1] — the 'k'
    field); the scan drops every data-file row whose k appears in
    any delete file. Cross-checks mirror the position-delete walk,
    plus: content=2 entries must carry equality_ids=[1] and data
    entries must carry none."""
    from gmall_flink_210726_spark.operators.parquetmeta import (
        read_parquet_column_k,
    )

    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    meta_name = next(
        (n for n in files if n.endswith(".metadata.json")), None
    )
    if meta_name is None:
        return None
    try:
        meta = json.loads(files[meta_name].decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return None
    if not isinstance(meta, dict) or meta.get("format-version") != 2:
        return None
    cur = meta.get("current-snapshot-id")
    snaps = meta.get("snapshots")
    if not isinstance(cur, int) or not isinstance(snaps, list):
        return None
    snap = next(
        (s for s in snaps if isinstance(s, dict) and s.get("snapshot-id") == cur),
        None,
    )
    if snap is None or not isinstance(snap.get("manifest-list"), str):
        return None
    mlist_blob = files.get(snap["manifest-list"])
    if mlist_blob is None:
        return None
    got = read_avro_container(mlist_blob)
    if got is None:
        return None
    mlist, _, _ = got
    data_files: dict[str, dict] = {}
    delete_values: set[int] = set()
    n_delete_files = n_delete_values = 0
    for mf in mlist:
        try:
            path = mf["manifest_path"]
            declared = mf["manifest_length"]
            content = mf["content"]
        except (TypeError, KeyError):
            return None
        blob = files.get(path)
        if blob is None or len(blob) != declared:
            return None
        g2 = read_avro_container(blob)
        if g2 is None:
            return None
        entries, _, _ = g2
        for ent in entries:
            try:
                df = ent["data_file"]
                fcontent = df["content"]
                fpath = df["file_path"]
                rows = df["record_count"]
                size = df["file_size_in_bytes"]
                eq_ids = df["equality_ids"]
            except (TypeError, KeyError):
                return None
            if ent.get("status") != 1:
                return None
            blob2 = files.get(fpath)
            if blob2 is None or len(blob2) != size:
                return None
            if content == 0:
                if fcontent != 0 or eq_ids is not None:
                    return None
                data_files[fpath] = {"rows": rows, "blob": blob2}
            elif content == 1:
                if fcontent != 2 or eq_ids != [1]:
                    return None  # equality deletes keyed on field 1
                col = read_parquet_column_k(blob2, collect_values=True)
                if col is None or col["n_values"] != rows:
                    return None
                delete_values.update(col["values"])
                n_delete_files += 1
                n_delete_values += col["n_values"]
            else:
                return None
    live_rows = k_sum = eq_deleted = 0
    for info in data_files.values():
        col = read_parquet_column_k(info["blob"], collect_values=True)
        if col is None or col["n_values"] != info["rows"]:
            return None
        for v in col["values"]:
            if v in delete_values:
                eq_deleted += 1
            else:
                live_rows += 1
                k_sum += v
    return {
        "data_files": len(data_files),
        "delete_files": n_delete_files,
        "n_delete_values": n_delete_values,
        "eq_deleted_rows": eq_deleted,
        "live_rows": live_rows,
        "k_sum": k_sum,
    }


ICEBERG_EQ_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("data_files", LongType()),
        StructField("delete_files", LongType()),
        StructField("n_delete_values", LongType()),
        StructField("eq_deleted_rows", LongType()),
        StructField("live_rows", LongType()),
        StructField("k_sum", LongType()),
    ]
)


def iceberg_eqdel_stats(df: DataFrame) -> DataFrame:
    """Iceberg v2 equality-delete scan over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_iceberg_eqdel, ICEBERG_EQ_SCHEMA, "iceberg")


def _eq_rows(i: int, f: int) -> int:
    return 35 + ((i + f) % 3) * 15


def _eq_k(i: int, f: int, j: int) -> int:
    return (7 * i + 13 * f + 5 * j) % 600


def _eq_deletes(i: int) -> list[int]:
    return sorted((11 * i + 23 * u) % 600 for u in range(6 + i % 4))


def _make_iceberg_eq_table(
    i: int, bad_stripe: int = 13, lie_stripe: int = 9
) -> bytes:
    """``2 + i%2`` data files + ONE equality-delete parquet file of
    key VALUES (small k modulus so deletes really hit). Every
    ``bad_stripe``-th id truncates the delete file; every
    ``lie_stripe``-th id overstates its record_count by one."""
    import pyarrow as pa

    nf = 2 + i % 2
    codec = ("null", "deflate")[i % 2]
    sync = bytes((i * 37 + 11 * k) % 256 for k in range(16))
    members: list[tuple[str, bytes]] = []
    data_entries = []
    for f in range(nf):
        rows = _eq_rows(i, f)
        path = f"data/part-{f:05d}.parquet"
        blob = _mor_parquet(
            {"k": pa.array([_eq_k(i, f, j) for j in range(rows)], pa.int64())}
        )
        members.append((path, blob))
        data_entries.append(
            {
                "status": 1,
                "snapshot_id": None,
                "data_file": {
                    "content": 0,
                    "file_path": path,
                    "file_format": "PARQUET",
                    "record_count": rows,
                    "file_size_in_bytes": len(blob),
                    "equality_ids": None,
                },
            }
        )
    dels = _eq_deletes(i)
    del_blob = _mor_parquet({"k": pa.array(dels, pa.int64())})
    if i % bad_stripe == 0:
        del_blob = del_blob[:-1]
    members.append(("data/eq-deletes-00000.parquet", del_blob))
    del_count = len(dels)
    if i % lie_stripe == 0 and i % bad_stripe != 0:
        del_count += 1
    delete_entries = [
        {
            "status": 1,
            "snapshot_id": None,
            "data_file": {
                "content": 2,
                "file_path": "data/eq-deletes-00000.parquet",
                "file_format": "PARQUET",
                "record_count": del_count,
                "file_size_in_bytes": len(del_blob),
                "equality_ids": [1],
            },
        }
    ]
    man_data = make_avro_container(
        MANIFEST_SCHEMA_EQ, data_entries, codec=codec, sync=sync
    )
    man_del = make_avro_container(
        MANIFEST_SCHEMA_EQ, delete_entries, codec=codec, sync=sync
    )
    members.append(("manifest-data.avro", man_data))
    members.append(("manifest-del.avro", man_del))
    mlist = [
        {
            "manifest_path": "manifest-data.avro",
            "manifest_length": len(man_data),
            "partition_spec_id": 0,
            "content": 0,
            "added_files_count": nf,
            "existing_files_count": 0,
            "deleted_files_count": 0,
        },
        {
            "manifest_path": "manifest-del.avro",
            "manifest_length": len(man_del),
            "partition_spec_id": 0,
            "content": 1,
            "added_files_count": 1,
            "existing_files_count": 0,
            "deleted_files_count": 0,
        },
    ]
    members.append(
        (
            "snap-current.avro",
            make_avro_container(
                MLIST_SCHEMA_V2, mlist, codec=codec, sync=sync
            ),
        )
    )
    meta = {
        "format-version": 2,
        "table-uuid": f"0000-{i}",
        "current-snapshot-id": 3000 + i,
        "snapshots": [
            {
                "snapshot-id": 3000 + i,
                "manifest-list": "snap-current.avro",
            }
        ],
    }
    members.append(
        (f"v{1 + i % 3}.metadata.json", json.dumps(meta).encode())
    )
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    parts.append(b"\x00" * (2 * _BLOCK))
    return b"".join(parts)


def synthesize_iceberg_eq_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of Iceberg v2 equality-delete tables."""
    return synthesize_blobs(docs, _make_iceberg_eq_table, blob_meta("iceberg"))


# --------------------------------------------------------------------------
# MANIFEST-LEVEL PARTITION PRUNING — the planner-side skipping layer
# --------------------------------------------------------------------------

# The manifest list carries per-partition-field SUMMARIES
# (field_summary: contains_null + lower/upper bound bytes, the spec's
# single-value serialization — 4-byte LE for int). A predicate opens
# ONLY the manifests whose summary can intersect: at 100 TB the
# manifest list is a few KB and this decides which multi-MB manifests
# are fetched at all — the Iceberg twin of the parquet page index.

MLIST_SCHEMA_P = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {
            "name": "partitions",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "field_summary",
                        "fields": [
                            {"name": "contains_null", "type": "boolean"},
                            {"name": "lower_bound", "type": ["null", "bytes"]},
                            {"name": "upper_bound", "type": ["null", "bytes"]},
                        ],
                    },
                },
            ],
        },
    ],
}

MANIFEST_SCHEMA_P = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"]},
        {
            "name": "data_file",
            "type": {
                "type": "record",
                "name": "data_file",
                "fields": [
                    {"name": "content", "type": "int"},
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition_day", "type": "int"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}


def _i32le(b) -> int | None:
    if not isinstance(b, bytes) or len(b) != 4:
        return None
    import struct as _s

    return _s.unpack("<i", b)[0]


def read_iceberg_manifest_prune(
    data: bytes, lo: int, hi: int
) -> dict | None:
    """Predicate ``lo <= day <= hi`` against the manifest list's
    partition summaries: manifests whose [lower, upper] cannot
    intersect are never opened. Every OPENED manifest's files must
    sit inside the claimed bounds (a lying summary is caught exactly
    when its manifest is read — the page-index property), and the
    summary must not claim nulls the partition field cannot have."""
    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    meta_name = next(
        (n for n in files if n.endswith(".metadata.json")), None
    )
    if meta_name is None:
        return None
    try:
        meta = json.loads(files[meta_name].decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return None
    if not isinstance(meta, dict) or meta.get("format-version") != 2:
        return None
    cur = meta.get("current-snapshot-id")
    snaps = meta.get("snapshots")
    if not isinstance(cur, int) or not isinstance(snaps, list):
        return None
    snap = next(
        (s for s in snaps if isinstance(s, dict) and s.get("snapshot-id") == cur),
        None,
    )
    if snap is None or not isinstance(snap.get("manifest-list"), str):
        return None
    mlist_blob = files.get(snap["manifest-list"])
    if mlist_blob is None:
        return None
    got = read_avro_container(mlist_blob)
    if got is None:
        return None
    mlist, _, _ = got
    n_read = files_read = files_sel = rows_sel = 0
    for mf in mlist:
        try:
            path = mf["manifest_path"]
            declared = mf["manifest_length"]
            parts = mf["partitions"]
        except (TypeError, KeyError):
            return None
        if mf.get("content") != 0 or not isinstance(parts, list):
            return None
        if len(parts) != 1:
            return None  # one partition field (day)
        fs = parts[0]
        if not isinstance(fs, dict) or fs.get("contains_null"):
            return None  # the day field is REQUIRED: no nulls
        bmin = _i32le(fs.get("lower_bound"))
        bmax = _i32le(fs.get("upper_bound"))
        if bmin is None or bmax is None or bmin > bmax:
            return None
        if bmax < lo or bmin > hi:
            continue  # PRUNED — this manifest is never fetched
        blob = files.get(path)
        if blob is None or len(blob) != declared:
            return None
        g2 = read_avro_container(blob)
        if g2 is None:
            return None
        entries, _, _ = g2
        n_read += 1
        for ent in entries:
            try:
                df = ent["data_file"]
                day = df["partition_day"]
                rows = df["record_count"]
            except (TypeError, KeyError):
                return None
            if not bmin <= day <= bmax:
                return None  # the summary lied about an opened manifest
            files_read += 1
            if lo <= day <= hi:
                files_sel += 1
                rows_sel += rows
    return {
        "n_manifests": len(mlist),
        "n_manifests_read": n_read,
        "data_files_read": files_read,
        "files_selected": files_sel,
        "rows_selected": rows_sel,
    }


ICEBERG_PRUNE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_manifests", LongType()),
        StructField("n_manifests_read", LongType()),
        StructField("data_files_read", LongType()),
        StructField("files_selected", LongType()),
        StructField("rows_selected", LongType()),
    ]
)


def _prune_predicate(i: int) -> tuple[int, int]:
    lo = (7 * i) % 55
    return lo, lo + 25


def iceberg_prune_stats(df: DataFrame) -> DataFrame:
    """Manifest-level partition pruning over MEDIA_SCHEMA blobs."""
    return blob_stats(
        df,
        lambda b, i: read_iceberg_manifest_prune(b, *_prune_predicate(i)),
        ICEBERG_PRUNE_SCHEMA,
        "iceberg",
        by_id=True,
    )


def _prune_days(i: int, m: int) -> tuple[int, int]:
    return (
        20 * m + (i + m) % 20,
        20 * m + (i + 3 * m + 7) % 20,
    )


def _make_iceberg_prune_table(
    i: int, bad_stripe: int = 13, lie_stripe: int = 9
) -> bytes:
    """``3 + i%3`` manifests, each holding two files whose partition
    days sit inside its 20-day band; the manifest-list summaries
    carry the TIGHT per-manifest min/max as 4-byte-LE bounds. Every
    ``bad_stripe``-th id truncates the manifest list (the Avro walk
    must refuse); every ``lie_stripe``-th id rewrites one file's day
    in the FIRST manifest the predicate selects to land outside its
    claimed bounds — pruned manifests could lie forever, only an
    opened one is caught."""
    import struct as _s

    nm = 3 + i % 3
    codec = ("null", "deflate")[i % 2]
    sync = bytes((i * 41 + 13 * k) % 256 for k in range(16))
    lo, hi = _prune_predicate(i)
    bounds = []
    days_by_m = []
    for m in range(nm):
        d1, d2 = _prune_days(i, m)
        days_by_m.append([d1, d2])
        bounds.append((min(d1, d2), max(d1, d2)))
    selected = [
        m
        for m in range(nm)
        if bounds[m][1] >= lo and bounds[m][0] <= hi
    ]
    lie = i % lie_stripe == 0 and i % bad_stripe != 0
    lie_m = selected[0] if (lie and selected) else None
    members: list[tuple[str, bytes]] = []
    mlist = []
    for m in range(nm):
        days = list(days_by_m[m])
        if m == lie_m:
            days[0] = 20 * m + 25  # outside the claimed upper bound
        entries = [
            {
                "status": 1,
                "snapshot_id": None,
                "data_file": {
                    "content": 0,
                    "file_path": f"data/day-{m}-{e}.parquet",
                    "file_format": "PARQUET",
                    "partition_day": days[e],
                    "record_count": 10 + (i + 5 * m + e) % 90,
                    "file_size_in_bytes": 1000 + m,
                },
            }
            for e in range(2)
        ]
        blob = make_avro_container(
            MANIFEST_SCHEMA_P, entries, codec=codec, sync=sync
        )
        members.append((f"manifest-{m}.avro", blob))
        mlist.append(
            {
                "manifest_path": f"manifest-{m}.avro",
                "manifest_length": len(blob),
                "partition_spec_id": 0,
                "content": 0,
                "added_files_count": 2,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "partitions": [
                    {
                        "contains_null": False,
                        "lower_bound": _s.pack("<i", bounds[m][0]),
                        "upper_bound": _s.pack("<i", bounds[m][1]),
                    }
                ],
            }
        )
    mlist_blob = make_avro_container(
        MLIST_SCHEMA_P, mlist, codec=codec, sync=sync
    )
    if i % bad_stripe == 0 or (lie and lie_m is None):
        # a lie needs a selected manifest to land in; when the
        # predicate selects nothing, degrade via the container walk
        # instead so the stripe contract stays deterministic
        mlist_blob = mlist_blob[:-3]
    members.append(("snap-current.avro", mlist_blob))
    meta = {
        "format-version": 2,
        "table-uuid": f"0000-{i}",
        "current-snapshot-id": 4000 + i,
        "snapshots": [
            {
                "snapshot-id": 4000 + i,
                "manifest-list": "snap-current.avro",
            }
        ],
    }
    members.append(
        (f"v{1 + i % 3}.metadata.json", json.dumps(meta).encode())
    )
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    parts.append(b"\x00" * (2 * _BLOCK))
    return b"".join(parts)


def synthesize_iceberg_prune_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of partition-summary Iceberg chains."""
    return synthesize_blobs(docs, _make_iceberg_prune_table, blob_meta("iceberg"))


ICEBERG_ASOF_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("snapshot_ts_ms", LongType()),
        StructField("n_snapshots", LongType()),
        StructField("n_manifests", LongType()),
        StructField("n_added", LongType()),
        StructField("n_existing", LongType()),
        StructField("n_deleted", LongType()),
        StructField("live_files", LongType()),
        StructField("live_rows", LongType()),
        StructField("live_bytes", LongType()),
    ]
)


def iceberg_asof_stats(df: DataFrame, asof_ms: int) -> DataFrame:
    """Timestamp-as-of snapshot resolution over MEDIA_SCHEMA blobs."""
    return blob_stats(
        df, lambda b: read_iceberg_asof(b, asof_ms), ICEBERG_ASOF_SCHEMA, "iceberg"
    )


# --------------------------------------------------------------------------
# Named references (Iceberg spec "refs", the branching/tagging layer
# of table-metadata): a map of name -> {snapshot-id, type, retention
# knobs}.  "main" IS the current snapshot by definition — the spec
# keeps current-snapshot-id and the main branch head in lockstep, so
# a metadata file where they disagree is corrupt.  Retention fields
# are type-gated: min-snapshots-to-keep / max-snapshot-age-ms are
# BRANCH-only (a tag carrying them is malformed); max-ref-age-ms is
# legal on both.  Every ref must resolve to a declared snapshot, and
# each referenced snapshot's manifest walk runs the full trust chain
# (_snapshot_totals).  This is how real warehouses pin eval sets
# ("tag the corpus we trained on") while main keeps moving.
# --------------------------------------------------------------------------

_BRANCH_ONLY = {"min-snapshots-to-keep", "max-snapshot-age-ms"}
_REF_KEYS = _BRANCH_ONLY | {"snapshot-id", "type", "max-ref-age-ms"}


def read_iceberg_refs(data: bytes) -> dict | None:
    """Tar table -> ref census with per-ref snapshot totals; None on
    any violation (section doc)."""
    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    meta_name = next(
        (n for n in files if n.endswith(".metadata.json")), None
    )
    if meta_name is None:
        return None
    try:
        meta = json.loads(files[meta_name].decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return None
    if not isinstance(meta, dict) or meta.get("format-version") != 2:
        return None
    cur = meta.get("current-snapshot-id")
    snaps = meta.get("snapshots")
    refs = meta.get("refs")
    if (
        not isinstance(cur, int)
        or not isinstance(snaps, list)
        or not isinstance(refs, dict)
        or not refs
    ):
        return None
    by_id = {
        s.get("snapshot-id"): s for s in snaps if isinstance(s, dict)
    }
    main = refs.get("main")
    if (
        not isinstance(main, dict)
        or main.get("type") != "branch"
        or main.get("snapshot-id") != cur
    ):
        return None  # main must exist and BE the current snapshot
    n_branches = n_tags = 0
    main_rows = dev_rows = tags_rows_sum = 0
    for name, ref in refs.items():
        if not isinstance(name, str) or not isinstance(ref, dict):
            return None
        if not set(ref) <= _REF_KEYS:
            return None
        rtype = ref.get("type")
        sid = ref.get("snapshot-id")
        if rtype not in ("branch", "tag") or sid not in by_id:
            return None
        if rtype == "tag" and _BRANCH_ONLY & set(ref):
            return None  # retention knobs are branch-only
        totals = _snapshot_totals(files, by_id[sid])
        if totals is None:
            return None
        if rtype == "branch":
            n_branches += 1
        else:
            n_tags += 1
            tags_rows_sum += totals["live_rows"]
        if name == "main":
            main_rows = totals["live_rows"]
        elif name == "dev":
            dev_rows = totals["live_rows"]
    return {
        "n_refs": len(refs),
        "n_branches": n_branches,
        "n_tags": n_tags,
        "main_rows": main_rows,
        "dev_rows": dev_rows,
        "tags_rows_sum": tags_rows_sum,
    }


ICEBERG_REFS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_refs", LongType()),
        StructField("n_branches", LongType()),
        StructField("n_tags", LongType()),
        StructField("main_rows", LongType()),
        StructField("dev_rows", LongType()),
        StructField("tags_rows_sum", LongType()),
    ]
)


def iceberg_refs_stats(df: DataFrame) -> DataFrame:
    """Ref-census walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_iceberg_refs, ICEBERG_REFS_SCHEMA, "iceberg")


def _refs_ns(i: int) -> int:
    return 2 + i % 3


def _refs_nt(i: int) -> int:
    return 1 + i % 2


def _refs_nf(i: int, s: int) -> int:
    return 2 + (i + s) % 3


def _refs_rows(i: int, s: int, f: int) -> int:
    return 10 + (i + 3 * s + f) % 20


def _refs_snap_rows(i: int, s: int) -> int:
    return sum(
        _refs_rows(i, s, f) for f in range(_refs_nf(i, s))
    )


def _make_iceberg_refs_table(i: int) -> bytes:
    """``2+i%3`` snapshots; refs: main (branch, latest), dev
    (branch, latest-1), tags ``v<t>`` at snapshots 0..``i%2``.
    Lies: every 13th id points main at a NON-current snapshot
    (refused); every 17th-miss id puts min-snapshots-to-keep on a
    tag (refused); every 19th-miss id names a ghost snapshot-id in
    a tag (refused)."""
    ns = _refs_ns(i)
    nt = _refs_nt(i)
    members: list[tuple[str, bytes]] = []
    snaps = []
    for s in range(ns):
        nf = _refs_nf(i, s)
        manifest = make_avro_container(
            MANIFEST_SCHEMA,
            [
                {
                    "status": 1,
                    "snapshot_id": 3000 + i * 10 + s,
                    "data_file": {
                        "file_path": f"data/s{s}f{f}.parquet",
                        "file_format": "PARQUET",
                        "record_count": _refs_rows(i, s, f),
                        "file_size_in_bytes": 100
                        + (7 * i + s + f) % 50,
                    },
                }
                for f in range(nf)
            ],
        )
        members.append((f"meta/m-{s}.avro", manifest))
        mlist = make_avro_container(
            MLIST_SCHEMA,
            [
                {
                    "manifest_path": f"meta/m-{s}.avro",
                    "manifest_length": len(manifest),
                    "partition_spec_id": 0,
                    "added_files_count": nf,
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                }
            ],
        )
        members.append((f"meta/snap-{s}.avro", mlist))
        snaps.append(
            {
                "snapshot-id": 3000 + i * 10 + s,
                "manifest-list": f"meta/snap-{s}.avro",
            }
        )
    cur = snaps[-1]["snapshot-id"]
    main_target = cur
    if i % 13 == 0:
        main_target = snaps[0]["snapshot-id"]
        if ns == 1:
            main_target = cur + 1
    refs = {
        "main": {
            "snapshot-id": main_target,
            "type": "branch",
            "min-snapshots-to-keep": 1,
        },
        "dev": {
            "snapshot-id": snaps[max(0, ns - 2)]["snapshot-id"],
            "type": "branch",
        },
    }
    for t in range(nt):
        tag = {
            "snapshot-id": snaps[t]["snapshot-id"],
            "type": "tag",
            "max-ref-age-ms": 1000000,
        }
        if i % 17 == 0 and i % 13 != 0 and t == nt - 1:
            tag["min-snapshots-to-keep"] = 2  # branch-only knob
        if (
            i % 19 == 0
            and i % 13 != 0
            and i % 17 != 0
            and t == nt - 1
        ):
            tag["snapshot-id"] = 999999999  # ghost snapshot
        refs[f"v{t}"] = tag
    meta = {
        "format-version": 2,
        "table-uuid": f"tbl-refs-{i}",
        "current-snapshot-id": cur,
        "snapshots": snaps,
        "refs": refs,
    }
    members.append(
        ("v3.metadata.json", json.dumps(meta).encode("utf-8"))
    )
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_iceberg_refs_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of branched/tagged Iceberg tables."""
    return synthesize_blobs(docs, _make_iceberg_refs_table, blob_meta("iceberg"))
