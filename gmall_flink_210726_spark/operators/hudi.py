"""Hudi copy-on-write TIMELINE replay — the third major table format
next to the Delta log (operators/deltalog.py) and the Iceberg
snapshot chain (operators/iceberg.py), implemented from the public
Apache Hudi spec (hudi.apache.org 'Timeline' / 'Table & Query Types'):

- the ``.hoodie/`` timeline is a set of instant files named
  ``<instantTime>.<action>[.<state>]``; only COMPLETED commits (no
  ``.inflight`` / ``.requested`` suffix) are readable — a snapshot
  read at instant T sees, per FILE GROUP (fileId), the base file
  written by the LATEST completed commit <= T (copy-on-write: an
  update rewrites the whole base file under the same fileId with a
  new instant in its name);
- a commit file is JSON with ``partitionToWriteStats``:
  {partition: [{fileId, path, numWrites, fileSizeInBytes}]};
- instant times order lexicographically (Hudi's timestamps are
  fixed-width yyyyMMddHHmmss strings).

Trust chain: a fileId appearing twice in one commit refuses (a file
group has exactly one base file per commit), every SELECTED base
file's bytes must match the commit's fileSizeInBytes and its decoded
row count the commit's numWrites, and files written by INFLIGHT
commits are provably never read (the fixture plants one and the test
corrupts it — dirty reads are exactly what the timeline exists to
prevent). Superseded base files (rewritten groups' old versions) are
likewise never opened.

Ships as one tar per table; Arrow-batched ``mapInPandas``.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.tar import _BLOCK, _make_header
from gmall_flink_210726_spark.operators.wds import _iter_tar_members

HUDI_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_completed", LongType()),
        StructField("n_inflight", LongType()),
        StructField("n_groups", LongType()),
        StructField("total_rows", LongType()),
        StructField("k_sum", LongType()),
    ]
)


def read_hudi_snapshot(data: bytes, asof: str | None = None) -> dict | None:
    """Tar table -> COW snapshot totals at the latest completed
    instant (or ``asof``); None on any timeline/trust violation
    (module doc)."""
    from gmall_flink_210726_spark.operators.parquetmeta import (
        read_parquet_column_k,
    )

    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    completed: list[str] = []
    inflight = 0
    for name in files:
        if not name.startswith(".hoodie/"):
            continue
        base = name[len(".hoodie/") :]
        # Real Hudi names a commit-action inflight instant bare
        # "<ts>.inflight" (no action infix); accept both spellings.
        if base.endswith((".inflight", ".requested")):
            inflight += 1
        elif base.endswith(".commit"):
            ts = base[: -len(".commit")]
            if not ts.isdigit():
                return None
            completed.append(ts)
    if not completed:
        return None
    completed.sort()
    readable = [
        t for t in completed if asof is None or t <= asof
    ]
    if not readable:
        return None  # as-of predates the table
    # per file group: the base file of the LATEST readable commit
    latest: dict[str, tuple[str, dict]] = {}  # fileId -> (ts, stats)
    for ts in readable:
        try:
            commit = json.loads(
                files[f".hoodie/{ts}.commit"].decode("utf-8")
            )
        except (ValueError, UnicodeDecodeError):
            return None
        pws = commit.get("partitionToWriteStats")
        if not isinstance(pws, dict):
            return None
        seen_here: set[str] = set()
        for _part, stats in pws.items():
            if not isinstance(stats, list):
                return None
            for st in stats:
                if (
                    not isinstance(st, dict)
                    or not isinstance(st.get("fileId"), str)
                    or not isinstance(st.get("path"), str)
                ):
                    return None
                fid = st["fileId"]
                if fid in seen_here:
                    return None  # one base file per group per commit
                seen_here.add(fid)
                latest[fid] = (ts, st)
    total_rows = k_sum = 0
    for fid, (_ts, st) in latest.items():
        blob = files.get(st["path"])
        if blob is None or len(blob) != st.get("fileSizeInBytes"):
            return None
        col = read_parquet_column_k(blob)
        if col is None or col["n_values"] != st.get("numWrites"):
            return None
        total_rows += col["n_values"]
        k_sum += col["k_sum"]
    return {
        "n_completed": len(readable),
        "n_inflight": inflight,
        "n_groups": len(latest),
        "total_rows": total_rows,
        "k_sum": k_sum,
    }


def hudi_snapshot_stats(df: DataFrame) -> DataFrame:
    """Hudi COW snapshot replay over MEDIA_SCHEMA tar blobs."""
    return blob_stats(df, read_hudi_snapshot, HUDI_SCHEMA, "hudi")


_T1, _T2, _T3 = "20240101000000", "20240102000000", "20240103000000"


def _hudi_rows(i: int, g: int, c: int) -> list[int]:
    n = 10 + (i + 7 * g + 13 * c) % 40
    return [(i * 5 + g * 11 + c * 17 + 3 * r) % 1000 for r in range(n)]


def _hudi_parquet(kv: list[int]) -> bytes:
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = io.BytesIO()
    pq.write_table(
        pa.table({"k": pa.array(kv, pa.int64())}),
        buf,
        write_statistics=False,
        use_dictionary=False,
    )
    return buf.getvalue()


def _make_hudi_table(i: int) -> bytes:
    """``2 + i % 3`` file groups. Commit T1 writes every group;
    commit T2 (present on even ids) REWRITES the even groups
    (copy-on-write: same fileId, new base file, old one superseded);
    an INFLIGHT commit at T3 is always present, and the base file it
    wrote for group 0 sits in the tar — a dirty read would see it,
    the timeline replay must not (pinned by corrupting it). Lies:
    every 13th id's latest-commit first write-stat overstates
    numWrites by one (caught by the actual decode); every 19th-miss
    id repeats a fileId inside one commit (refused)."""
    ng = 2 + i % 3
    members: list[tuple[str, bytes]] = []

    def commit_json(ts: str, groups: list[int], c: int, lie: bool):
        stats = []
        for g in groups:
            kv = _hudi_rows(i, g, c)
            path = f"part/f{g}_0-0_{ts}.parquet"
            blob = _hudi_parquet(kv)
            members.append((path, blob))
            n = len(kv)
            if lie and g == groups[0]:
                n += 1
            stats.append(
                {
                    "fileId": f"f{g}",
                    "path": path,
                    "numWrites": n,
                    "fileSizeInBytes": len(blob),
                }
            )
        if i % 19 == 0 and i % 13 != 0 and ts == _T1:
            stats.append(dict(stats[0]))  # duplicate fileId
        return json.dumps({"partitionToWriteStats": {"part": stats}})

    has_t2 = i % 2 == 0
    lie_ts = _T2 if has_t2 else _T1
    members.append(
        (
            f".hoodie/{_T1}.commit",
            commit_json(
                _T1, list(range(ng)), 1, i % 13 == 0 and lie_ts == _T1
            ).encode(),
        )
    )
    if has_t2:
        members.append(
            (
                f".hoodie/{_T2}.commit",
                commit_json(
                    _T2,
                    [g for g in range(ng) if g % 2 == 0],
                    2,
                    i % 13 == 0,
                ).encode(),
            )
        )
    # the inflight commit + its (must-never-be-read) base file
    members.append((f".hoodie/{_T3}.commit.inflight", b"{}"))
    members.append(
        (
            f"part/f0_0-0_{_T3}.parquet",
            _hudi_parquet(_hudi_rows(i, 0, 3)),
        )
    )
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_hudi_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of Hudi COW tables (timeline + base files)."""
    return synthesize_blobs(docs, _make_hudi_table, blob_meta("hudi"), partitions)


# --------------------------------------------------------------------------
# Merge-on-read: HoodieLogFormat block replay over COW base files
# --------------------------------------------------------------------------
#
# Implemented from the public Apache Hudi log format (hudi.apache.org
# 'Writer Expectations' / HoodieLogFormat javadoc): a file group's
# delta log is a stream of blocks, each framed
#
#   magic "#HUDI#" | u64BE size (bytes after this field through the
#   trailing total-length field) | u32BE format version (=1) |
#   u32BE block type | header map | u64BE content length | content |
#   footer map | u64BE total block length (magic..this field)
#
# where a map is u32BE count then (u32BE key ordinal, u32BE length,
# bytes) entries.  Block types follow the HoodieLogBlockType enum
# order (COMMAND=0, DELETE=1, CORRUPT=2, AVRO_DATA=3); header keys
# follow HeaderMetadataType (INSTANT_TIME=0, TARGET_INSTANT_TIME=1,
# SCHEMA=2, COMMAND_BLOCK_TYPE=3).  An AVRO_DATA block's content is
# u32BE version + u32BE record count + per record (u32BE length,
# Avro binary datum under the header SCHEMA); a DELETE block carries
# HoodieKey-shaped datums the same way; a COMMAND block with
# COMMAND_BLOCK_TYPE=0 is a ROLLBACK: earlier blocks in the stream
# whose INSTANT_TIME equals TARGET_INSTANT_TIME are discarded (this
# is Hudi's only protection against a FAILED writer's orphan blocks
# — the scanner does not consult the timeline per block, it skips
# blocks newer than the latest completed instant and relies on
# rollback blocks for the rest).  A structurally inconsistent frame
# degrades to a CORRUPT block exactly as HoodieLogFileReader does:
# scan forward to the next magic and keep going.

_LOG_MAGIC = b"#HUDI#"
_BLK_COMMAND, _BLK_DELETE, _BLK_CORRUPT, _BLK_AVRO = 0, 1, 2, 3
_H_INSTANT, _H_TARGET, _H_SCHEMA, _H_CMD = 0, 1, 2, 3

_LOG_SCHEMA = {
    "type": "record",
    "name": "LogRec",
    "fields": [
        {"name": "rk", "type": "long"},
        {"name": "k", "type": "long"},
    ],
}
_KEY_SCHEMA = {
    "type": "record",
    "name": "HoodieKey",
    "fields": [{"name": "rk", "type": "long"}],
}


def _enc_map(entries: dict[int, bytes]) -> bytes:
    import struct

    out = struct.pack(">I", len(entries))
    for k in sorted(entries):
        v = entries[k]
        out += struct.pack(">II", k, len(v)) + v
    return out


def _write_log_block(
    btype: int, header: dict[int, bytes], content: bytes
) -> bytes:
    import struct

    body = (
        struct.pack(">II", 1, btype)
        + _enc_map(header)
        + struct.pack(">Q", len(content))
        + content
        + _enc_map({})
    )
    # size covers body + the trailing total-length field
    total = 6 + 8 + len(body) + 8
    return (
        _LOG_MAGIC
        + struct.pack(">Q", len(body) + 8)
        + body
        + struct.pack(">Q", total)
    )


def _read_map(data: bytes, pos: int, end: int) -> tuple[dict, int]:
    import struct

    if pos + 4 > end:
        raise ValueError("hudi log: map truncated")
    (cnt,) = struct.unpack_from(">I", data, pos)
    pos += 4
    if cnt > 64:
        raise ValueError("hudi log: absurd map count")
    out: dict[int, bytes] = {}
    for _ in range(cnt):
        if pos + 8 > end:
            raise ValueError("hudi log: map entry truncated")
        k, ln = struct.unpack_from(">II", data, pos)
        pos += 8
        if pos + ln > end:
            raise ValueError("hudi log: map value truncated")
        out[k] = data[pos : pos + ln]
        pos += ln
    return out, pos


def _parse_one_block(data: bytes, pos: int) -> tuple[dict, int]:
    """Strict single-block parse; raises ValueError on any frame
    inconsistency (the caller degrades to corrupt-block recovery)."""
    import struct

    n = len(data)
    if pos + 14 > n or data[pos : pos + 6] != _LOG_MAGIC:
        raise ValueError("hudi log: bad magic")
    (size,) = struct.unpack_from(">Q", data, pos + 6)
    block_end = pos + 6 + 8 + size
    if size < 24 or block_end > n:
        raise ValueError("hudi log: size out of range")
    p = pos + 14
    ver, btype = struct.unpack_from(">II", data, p)
    p += 8
    if ver != 1 or btype not in (
        _BLK_COMMAND,
        _BLK_DELETE,
        _BLK_CORRUPT,
        _BLK_AVRO,
    ):
        raise ValueError("hudi log: unknown version/type")
    header, p = _read_map(data, p, block_end)
    if p + 8 > block_end:
        raise ValueError("hudi log: content length truncated")
    (clen,) = struct.unpack_from(">Q", data, p)
    p += 8
    if p + clen > block_end:
        raise ValueError("hudi log: content overruns block")
    content = data[p : p + clen]
    p += clen
    footer, p = _read_map(data, p, block_end)
    if p + 8 != block_end:
        raise ValueError("hudi log: trailer misplaced")
    (total,) = struct.unpack_from(">Q", data, p)
    if total != block_end - pos:
        raise ValueError("hudi log: total-length mismatch")
    return (
        {"type": btype, "header": header, "content": content},
        block_end,
    )


def read_log_stream(data: bytes) -> tuple[list[dict], int] | None:
    """One log file -> (blocks, n_corrupt); None only when the
    stream does not even start at a magic (not a log file).  A
    malformed frame mid-stream is a CORRUPT block: scan to the next
    magic (HoodieLogFileReader's recovery) and continue."""
    if not data or data[:6] != _LOG_MAGIC:
        return None
    blocks: list[dict] = []
    n_corrupt = 0
    pos = 0
    while pos < len(data):
        try:
            blk, pos = _parse_one_block(data, pos)
        except ValueError:
            nxt = data.find(_LOG_MAGIC, pos + 6)
            n_corrupt += 1
            pos = nxt if nxt != -1 else len(data)
            continue
        if blk["type"] == _BLK_CORRUPT:
            n_corrupt += 1
            continue
        blocks.append(blk)
    return blocks, n_corrupt


def _decode_block_records(content: bytes, schema) -> list[dict] | None:
    """AVRO_DATA / DELETE content -> records; None on any framing or
    datum violation (a well-framed block that lies about its record
    count is data corruption, not a recoverable frame — unlike
    HoodieLogFileReader's size-scan recovery this REFUSES)."""
    import struct

    from gmall_flink_210726_spark.operators.avro import _decode_value
    from gmall_flink_210726_spark.operators.parquetmeta import _Reader

    if len(content) < 8:
        return None
    ver, cnt = struct.unpack_from(">II", content, 0)
    if ver != 1 or cnt > 100_000:
        return None
    pos = 8
    out = []
    for _ in range(cnt):
        if pos + 4 > len(content):
            return None
        (ln,) = struct.unpack_from(">I", content, pos)
        pos += 4
        if pos + ln > len(content):
            return None
        r = _Reader(content, pos, pos + ln)
        try:
            v = _decode_value(r, schema)
        except (ValueError, KeyError, TypeError, OverflowError):
            return None
        if r.pos != pos + ln:
            return None  # datum must consume its frame exactly
        out.append(v)
        pos += ln
    if pos != len(content):
        return None
    return out


def _parse_log_name(base: str) -> tuple[str, int] | None:
    """'.f0_20240101000000.log.2_0-0' -> ('f0', 2); None if not a
    Hudi log file name."""
    if not base.startswith("."):
        return None
    i = base.find(".log.")
    if i <= 1:
        return None
    left = base[1:i]
    fid = left.rsplit("_", 1)[0]
    right = base[i + 5 :]
    ver = right.split("_", 1)[0]
    if not ver.isdigit() or not fid:
        return None
    return fid, int(ver)


def read_hudi_mor_snapshot(
    data: bytes, asof: str | None = None
) -> dict | None:
    """Tar table -> merge-on-read snapshot totals: per file group,
    the latest readable base file merged with its delta-log blocks by
    record key, latest instant wins; deletes remove; rollback blocks
    neutralize their target instant; blocks newer than the latest
    readable instant are skipped (module section doc).  None on any
    timeline / stat / block-content trust violation."""
    import json as _json

    from gmall_flink_210726_spark.operators.parquetmeta import (
        read_parquet_column_k,
    )

    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    base_commits: list[str] = []
    delta_commits: list[str] = []
    inflight = 0
    for name in files:
        if not name.startswith(".hoodie/"):
            continue
        base = name[len(".hoodie/") :]
        if base.endswith((".inflight", ".requested")):
            inflight += 1
        elif base.endswith(".commit"):
            ts = base[: -len(".commit")]
            if not ts.isdigit():
                return None
            base_commits.append(ts)
        elif base.endswith(".deltacommit"):
            ts = base[: -len(".deltacommit")]
            if not ts.isdigit():
                return None
            delta_commits.append(ts)
    if not base_commits:
        return None
    completed = sorted(base_commits) + sorted(delta_commits)
    completed.sort()
    readable = [t for t in completed if asof is None or t <= asof]
    if not readable:
        return None
    max_instant = readable[-1]

    def _stats(ts: str, action: str):
        try:
            commit = _json.loads(
                files[f".hoodie/{ts}.{action}"].decode("utf-8")
            )
        except (ValueError, KeyError, UnicodeDecodeError):
            return None
        pws = commit.get("partitionToWriteStats")
        if not isinstance(pws, dict):
            return None
        flat = []
        for _part, stats in pws.items():
            if not isinstance(stats, list):
                return None
            flat.extend(stats)
        return flat

    # 1. base-file replay (COW semantics over .commit instants)
    latest_base: dict[str, dict] = {}
    for ts in sorted(base_commits):
        if ts not in readable:
            continue
        flat = _stats(ts, "commit")
        if flat is None:
            return None
        seen_here: set[str] = set()
        for st in flat:
            if not isinstance(st, dict) or not isinstance(
                st.get("fileId"), str
            ):
                return None
            fid = st["fileId"]
            if fid in seen_here:
                return None
            seen_here.add(fid)
            latest_base[fid] = st
    # 2. deltacommit stats: every referenced log file must exist with
    #    the claimed size (the books-balance trust layer)
    for ts in sorted(delta_commits):
        if ts not in readable:
            continue
        flat = _stats(ts, "deltacommit")
        if flat is None:
            return None
        for st in flat:
            if not isinstance(st, dict) or not isinstance(
                st.get("path"), str
            ):
                return None
            blob = files.get(st["path"])
            if blob is None or len(blob) != st.get("fileSizeInBytes"):
                return None
    # 3. per file group: base map + ordered log stream
    log_files: dict[str, list[tuple[int, str]]] = {}
    for name in files:
        if name.startswith(".hoodie/"):
            continue
        base = name.rsplit("/", 1)[-1]
        parsed = _parse_log_name(base)
        if parsed is not None:
            log_files.setdefault(parsed[0], []).append(
                (parsed[1], name)
            )
    total_rows = k_sum = n_blocks = n_corrupt = 0
    for fid, st in latest_base.items():
        blob = files.get(st.get("path"))
        if blob is None or len(blob) != st.get("fileSizeInBytes"):
            return None
        rk_col = read_parquet_column_k(
            blob, collect_values=True, name=b"rk"
        )
        k_col = read_parquet_column_k(
            blob, collect_values=True, name=b"k"
        )
        if (
            rk_col is None
            or k_col is None
            or rk_col["n_values"] != st.get("numWrites")
            or k_col["n_values"] != rk_col["n_values"]
        ):
            return None
        merged = dict(zip(rk_col["values"], k_col["values"]))
        if len(merged) != rk_col["n_values"]:
            return None  # duplicate record keys in a base file
        # one ordered stream across the group's log file versions
        stream: list[dict] = []
        for _ver, name in sorted(log_files.get(fid, [])):
            got = read_log_stream(files[name])
            if got is None:
                return None
            blocks, nc = got
            n_corrupt += nc
            stream.extend(blocks)
        # rollback pass: a COMMAND/ROLLBACK block kills every earlier
        # block whose INSTANT_TIME equals its TARGET_INSTANT_TIME.
        # A rollback stamped after the as-of instant hadn't happened
        # yet at that snapshot, so it is skipped like any other
        # future block (the "T4 rollback is itself skipped" rule).
        alive: list[dict] = []
        for blk in stream:
            if blk["type"] == _BLK_COMMAND:
                cmd = blk["header"].get(_H_CMD, b"")
                tgt = blk["header"].get(_H_TARGET)
                own = blk["header"].get(_H_INSTANT)
                if cmd != b"0" or tgt is None or own is None:
                    return None
                own_ts = own.decode("ascii", "replace")
                if not own_ts.isdigit():
                    return None
                if own_ts > max_instant:
                    continue
                alive = [
                    b
                    for b in alive
                    if b["header"].get(_H_INSTANT) != tgt
                ]
            else:
                alive.append(blk)
        for blk in alive:
            instant = blk["header"].get(_H_INSTANT)
            if instant is None:
                return None
            ts = instant.decode("ascii", "replace")
            if not ts.isdigit():
                return None
            if ts > max_instant:
                continue  # pending/future ingestion: skip
            if blk["type"] == _BLK_AVRO:
                sch_raw = blk["header"].get(_H_SCHEMA)
                if sch_raw is None:
                    return None
                try:
                    schema = _json.loads(sch_raw.decode("utf-8"))
                except (ValueError, UnicodeDecodeError):
                    return None
                recs = _decode_block_records(blk["content"], schema)
                if recs is None:
                    return None
                for rec in recs:
                    if not isinstance(rec.get("rk"), int):
                        return None
                    merged[rec["rk"]] = rec["k"]
            elif blk["type"] == _BLK_DELETE:
                recs = _decode_block_records(
                    blk["content"], _KEY_SCHEMA
                )
                if recs is None:
                    return None
                for rec in recs:
                    merged.pop(rec["rk"], None)
            else:
                return None  # corrupt blocks never reach here
            n_blocks += 1
        total_rows += len(merged)
        k_sum += sum(merged.values())
    return {
        "n_commits": len(readable),
        "n_inflight": inflight,
        "n_groups": len(latest_base),
        "n_blocks": n_blocks,
        "n_corrupt": n_corrupt,
        "total_rows": total_rows,
        "k_sum": k_sum,
    }


HUDI_MOR_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_commits", LongType()),
        StructField("n_inflight", LongType()),
        StructField("n_groups", LongType()),
        StructField("n_blocks", LongType()),
        StructField("n_corrupt", LongType()),
        StructField("total_rows", LongType()),
        StructField("k_sum", LongType()),
    ]
)


def hudi_mor_stats(df: DataFrame) -> DataFrame:
    """Hudi MERGE-ON-READ snapshot replay over MEDIA_SCHEMA tars."""
    return blob_stats(df, read_hudi_mor_snapshot, HUDI_MOR_SCHEMA, "hudi")


# -- MOR fixture ----------------------------------------------------------

_T4, _T9 = "20240104000000", "20240109000000"


def _mor_n(i: int, g: int) -> int:
    return 8 + (i + 3 * g) % 9


def _mor_k(i: int, g: int, r: int, salt: int) -> int:
    return (7 * i + 11 * g + 5 * r + salt) % 1000


def _mor_base_parquet(i: int, g: int) -> bytes:
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = _mor_n(i, g)
    buf = io.BytesIO()
    pq.write_table(
        pa.table(
            {
                "rk": pa.array(range(n), pa.int64()),
                "k": pa.array(
                    [_mor_k(i, g, r, 0) for r in range(n)], pa.int64()
                ),
            }
        ),
        buf,
        write_statistics=False,
        use_dictionary=False,
    )
    return buf.getvalue()


def _mor_data_block(
    instant: str, recs: list[dict], count_lie: int = 0
) -> bytes:
    import struct as _struct

    from gmall_flink_210726_spark.operators.avro import _enc_datum

    body = b"".join(
        _struct.pack(">I", len(d)) + d
        for d in (_enc_datum(_LOG_SCHEMA, r) for r in recs)
    )
    content = _struct.pack(">II", 1, len(recs) + count_lie) + body
    return _write_log_block(
        _BLK_AVRO,
        {
            _H_INSTANT: instant.encode(),
            _H_SCHEMA: json.dumps(_LOG_SCHEMA).encode(),
        },
        content,
    )


def _mor_delete_block(instant: str, keys: list[int]) -> bytes:
    import struct as _struct

    from gmall_flink_210726_spark.operators.avro import _enc_datum

    body = b"".join(
        _struct.pack(">I", len(d)) + d
        for d in (
            _enc_datum(_KEY_SCHEMA, {"rk": k}) for k in keys
        )
    )
    content = _struct.pack(">II", 1, len(keys)) + body
    return _write_log_block(
        _BLK_DELETE, {_H_INSTANT: instant.encode()}, content
    )


def _mor_rollback_block(instant: str, target: str) -> bytes:
    return _write_log_block(
        _BLK_COMMAND,
        {
            _H_INSTANT: instant.encode(),
            _H_TARGET: target.encode(),
            _H_CMD: b"0",
        },
        b"",
    )


def _make_hudi_mor_table(i: int) -> bytes:
    """MOR table: T1 base ``.commit`` per group; T2 ``.deltacommit``
    appends a data block (upserts r%3==0) and a delete block
    (r%5==4) to ``.log.1``; a FAILED write at T3 (even ids) leaves an
    orphan data block (r%2==0) in ``.log.2`` with no timeline file;
    T4 ``.deltacommit`` (even ids) opens ``.log.3`` with a ROLLBACK
    block targeting T3 followed by a data block (r%4==1) — the
    merged snapshot must contain none of T3's values. A bare
    ``<ts>.inflight`` instant at T9 is always planted. Stripes:
    i%7==0 plants a size-inconsistent frame at the head of group 0's
    ``.log.1`` (corrupt-block recovery: skipped, counted); i%19==0
    appends a data block stamped T9 (> latest completed instant:
    skipped, not counted); i%13==0 lies about ``.log.1``'s
    fileSizeInBytes in the T2 stat (refused); i%17==0-miss-13 lies
    about a data block's record count (well-framed, content decode
    refuses)."""
    import struct as _struct

    ng = 2 + i % 3
    even = i % 2 == 0
    members: list[tuple[str, bytes]] = []
    base_stats = []
    t2_stats = []
    t4_stats = []
    for g in range(ng):
        n = _mor_n(i, g)
        base = _mor_base_parquet(i, g)
        bpath = f"part/f{g}_0-0_{_T1}.parquet"
        members.append((bpath, base))
        base_stats.append(
            {
                "fileId": f"f{g}",
                "path": bpath,
                "numWrites": n,
                "fileSizeInBytes": len(base),
            }
        )
        log1 = b""
        if i % 7 == 0 and g == 0:
            log1 += _LOG_MAGIC + _struct.pack(">Q", 5) + b"JUNK?"
        log1 += _mor_data_block(
            _T2,
            [
                {"rk": r, "k": _mor_k(i, g, r, 311)}
                for r in range(n)
                if r % 3 == 0
            ],
            count_lie=1 if i % 17 == 0 and i % 13 != 0 and g == 0
            else 0,
        )
        log1 += _mor_delete_block(
            _T2, [r for r in range(n) if r % 5 == 4]
        )
        if i % 19 == 0:
            log1 += _mor_data_block(_T9, [{"rk": 0, "k": 999}])
        p1 = f"part/.f{g}_{_T1}.log.1_0-0"
        members.append((p1, log1))
        t2_stats.append(
            {
                "fileId": f"f{g}",
                "path": p1,
                "fileSizeInBytes": len(log1)
                + (1 if i % 13 == 0 and g == 0 else 0),
            }
        )
        if even:
            log2 = _mor_data_block(
                _T3,
                [
                    {"rk": r, "k": _mor_k(i, g, r, 499)}
                    for r in range(n)
                    if r % 2 == 0
                ],
            )
            members.append((f"part/.f{g}_{_T1}.log.2_0-0", log2))
            log3 = _mor_rollback_block(_T4, _T3) + _mor_data_block(
                _T4,
                [
                    {"rk": r, "k": _mor_k(i, g, r, 577)}
                    for r in range(n)
                    if r % 4 == 1
                ],
            )
            p3 = f"part/.f{g}_{_T1}.log.3_0-0"
            members.append((p3, log3))
            t4_stats.append(
                {
                    "fileId": f"f{g}",
                    "path": p3,
                    "fileSizeInBytes": len(log3),
                }
            )
    members.append(
        (
            f".hoodie/{_T1}.commit",
            json.dumps(
                {"partitionToWriteStats": {"part": base_stats}}
            ).encode(),
        )
    )
    members.append(
        (
            f".hoodie/{_T2}.deltacommit",
            json.dumps(
                {"partitionToWriteStats": {"part": t2_stats}}
            ).encode(),
        )
    )
    if even:
        members.append(
            (
                f".hoodie/{_T4}.deltacommit",
                json.dumps(
                    {"partitionToWriteStats": {"part": t4_stats}}
                ).encode(),
            )
        )
    members.append((f".hoodie/{_T9}.inflight", b"{}"))
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_hudi_mor_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of Hudi MOR tables (timeline + base files +
    HoodieLogFormat delta logs)."""
    return synthesize_blobs(docs, _make_hudi_mor_table, blob_meta("hudi"), partitions)
