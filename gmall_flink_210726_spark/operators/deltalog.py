"""Delta-log snapshot resolution — the TABLE-FORMAT metadata layer
above the file formats: a lakehouse reader does not scan a directory,
it replays the transaction log (the public Delta Lake protocol,
delta.io/PROTOCOL.md) to learn WHICH files are live at a version.

Implemented from the protocol:

- the ``_delta_log`` is a sequence of versioned commit files
  (``00000000000000000000.json`` ...), each a newline-delimited list
  of JSON ACTIONS; versions must be contiguous from 0 (a gap means
  an incomplete log -> degrade);
- actions: ``protocol`` (minReaderVersion beyond what this reader
  supports degrades — the protocol's own forward-compat rule),
  ``metaData`` (schema + partition columns), ``add`` (path, size,
  partitionValues, stats with numRecords) and ``remove`` (path);
- SNAPSHOT = ordered replay, LAST action per path wins: a re-add
  after a remove resurrects the file, a remove drops it;
- cross-checks: an ``add`` for a path already live with different
  size, a ``remove`` for a never-added path, malformed JSON, or a
  missing protocol/metaData in commit 0 all degrade.

The log ships as one tar blob per table (composing the ustar walk),
the natural unit for a metadata scan: at 100 TB the DATA files never
move — only these few-KB logs are read, which is the entire point of
the table-format layer. Arrow-batched ``mapInPandas``, zero shuffle.
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

_MAX_READER_VERSION = 1

DELTA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_commits", LongType()),
        StructField("n_adds", LongType()),
        StructField("n_removes", LongType()),
        StructField("live_files", LongType()),
        StructField("live_bytes", LongType()),
        StructField("live_rows", LongType()),
        StructField("n_partitions", LongType()),
    ]
)


def _collect_commits(
    members: list[tuple[str, bytes]],
) -> dict[int, bytes] | None:
    """Versioned ``<20 digits>.json`` members -> {version: payload};
    None on a malformed name, duplicate, or version gap."""
    commits: dict[int, bytes] = {}
    for name, payload in members:
        if not name.endswith(".json") or len(name) != 25:
            return None
        try:
            v = int(name[:20])
        except ValueError:
            return None
        if v in commits:
            return None
        commits[v] = payload
    n = len(commits)
    if n == 0 or sorted(commits) != list(range(n)):
        return None  # versions must be contiguous from 0
    return commits


def _replay_state(
    commits: dict[int, bytes],
    max_reader: int = _MAX_READER_VERSION,
    meta_out: list | None = None,
    on_version=None,
    actions_out: list | None = None,
) -> tuple[dict[str, tuple[int, int, str, dict]], int, int] | None:
    """Ordered replay -> (live path map, n_adds, n_removes); None on
    any protocol violation (module docstring contract). Each live
    entry carries the add's full parsed ``stats`` dict so skipping
    layers (minValues/maxValues) can prune without re-parsing.
    ``max_reader`` is the CALLER's capability: only the
    column-mapping-aware scan may accept minReaderVersion 2 (that is
    what reader version 2 means in the protocol); every logical-name
    reader keeps refusing it — reading a mapped table by logical
    name returns wrong data, not an error.  ``meta_out``, when given,
    receives the LAST metaData action dict seen during the replay
    (appended; schema evolution means the latest wins) so callers
    need not re-walk the log for it.  ``on_version``, when given, is
    called as ``on_version(v, live)`` after each version's actions
    apply (the post-commit snapshot state); returning False from it
    aborts the replay with None — this lets per-version checks (the
    ``.crc`` books-balance layer) ride one incremental replay
    instead of re-replaying the prefix per version.  ``actions_out``,
    when given, receives every validated action as
    ``(version, kind, dict)`` AND makes ``cdc`` actions legal
    (validated: string path, int size, dataChange false) — the
    change-data-feed reader rides the same single copy of the action
    grammar instead of re-implementing it; without ``actions_out``
    a cdc action stays an unknown-kind refusal."""
    n = len(commits)
    # path -> (size, rows, pv, stats)
    live: dict[str, tuple[int, int, str, dict]] = {}
    n_adds = n_removes = 0
    saw_protocol = saw_meta = False
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
                if (
                    not isinstance(p, dict)
                    or not isinstance(p.get("minReaderVersion"), int)
                ):
                    return None
                if p["minReaderVersion"] > max_reader:
                    return None  # forward-compat: refuse, never guess
                saw_protocol = True
                if actions_out is not None:
                    actions_out.append((v, "protocol", p))
            elif "metaData" in action:
                md = action["metaData"]
                if not isinstance(md, dict) or "id" not in md:
                    return None
                saw_meta = True
                if meta_out is not None:
                    meta_out.clear()
                    meta_out.append(md)
                if actions_out is not None:
                    actions_out.append((v, "metaData", md))
            elif "add" in action:
                a = action["add"]
                if (
                    not isinstance(a, dict)
                    or not isinstance(a.get("path"), str)
                    or not isinstance(a.get("size"), int)
                ):
                    return None
                path = a["path"]
                stats = a.get("stats")
                try:
                    sdict = json.loads(stats)
                    rows = int(sdict["numRecords"])
                except (TypeError, ValueError, KeyError):
                    return None
                if not isinstance(sdict, dict):
                    return None
                pv = json.dumps(
                    a.get("partitionValues", {}), sort_keys=True
                )
                if path in live and live[path][0] != a["size"]:
                    return None  # re-add must agree with the live entry
                live[path] = (a["size"], rows, pv, sdict)
                n_adds += 1
                if actions_out is not None:
                    actions_out.append((v, "add", a))
            elif "remove" in action:
                r = action["remove"]
                if not isinstance(r, dict) or not isinstance(
                    r.get("path"), str
                ):
                    return None
                if r["path"] not in live:
                    return None  # removing a never-live file
                del live[r["path"]]
                n_removes += 1
                if actions_out is not None:
                    actions_out.append((v, "remove", r))
            elif "commitInfo" in action:
                pass  # informational
            elif "cdc" in action and actions_out is not None:
                c = action["cdc"]
                if (
                    not isinstance(c, dict)
                    or not isinstance(c.get("path"), str)
                    or not isinstance(c.get("size"), int)
                    or c.get("dataChange") is not False
                ):
                    return None
                actions_out.append((v, "cdc", c))
            else:
                return None  # unknown action kind
        if v == 0 and not (saw_protocol and saw_meta):
            return None  # commit 0 must establish the table
        if on_version is not None and on_version(v, live) is False:
            return None
    return live, n_adds, n_removes


def replay_delta_log(data: bytes) -> dict | None:
    """Tar of commit files -> snapshot state; None on any protocol
    violation (module docstring contract)."""
    members = _iter_tar_members(data)
    if members is None:
        return None
    commits = _collect_commits(members)
    if commits is None:
        return None
    state = _replay_state(commits)
    if state is None:
        return None
    live, n_adds, n_removes = state
    return {
        "n_commits": len(commits),
        "n_adds": n_adds,
        "n_removes": n_removes,
        "live_files": len(live),
        "live_bytes": sum(e[0] for e in live.values()),
        "live_rows": sum(e[1] for e in live.values()),
        "n_partitions": len({e[2] for e in live.values()}),
    }


def delta_snapshot_stats(df: DataFrame) -> DataFrame:
    """Delta-log replay over MEDIA_SCHEMA blobs."""
    return blob_stats(df, replay_delta_log, DELTA_SCHEMA, "delta")


# --------------------------------------------------------------------------
# Fixture: a deterministic multi-commit log per doc
# --------------------------------------------------------------------------


def _commit_lines(i: int, v: int) -> list[bytes]:
    """Commit ``v`` of table ``i``: commit 0 carries protocol +
    metaData + ``2 + i % 3`` adds; later commits add one file and —
    when (i + v) % 2 == 0 — remove the previous commit's file."""
    lines: list[bytes] = []
    if v == 0:
        lines.append(
            json.dumps(
                {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
            ).encode()
        )
        lines.append(
            json.dumps(
                {
                    "metaData": {
                        "id": f"tbl-{i}",
                        "partitionColumns": ["p"],
                        "format": {"provider": "parquet"},
                    }
                }
            ).encode()
        )
        ks = range(2 + i % 3)
    else:
        ks = range(100 * v, 100 * v + 1)
    for k in ks:
        rows = 10 + (i + 3 * k) % 90
        lines.append(
            json.dumps(
                {
                    "add": {
                        "path": f"part-{v:05d}-{k}.parquet",
                        "partitionValues": {"p": str(k % 2)},
                        "size": 1000 + (7 * i + 11 * k) % 5000,
                        "modificationTime": 1700000000000 + v,
                        "dataChange": True,
                        "stats": json.dumps({"numRecords": rows}),
                    }
                }
            ).encode()
        )
    if v > 0 and (i + v) % 2 == 0:
        prev_k = 100 * (v - 1) if v > 1 else (i % (2 + i % 3))
        prev_v = v - 1
        lines.append(
            json.dumps(
                {
                    "remove": {
                        "path": f"part-{prev_v:05d}-{prev_k}.parquet",
                        "deletionTimestamp": 1700000000000 + v,
                        "dataChange": True,
                    }
                }
            ).encode()
        )
    lines.append(
        json.dumps(
            {"commitInfo": {"operation": "WRITE", "clusterId": "c"}}
        ).encode()
    )
    return lines


def _make_delta_log(i: int, bad_stripe: int = 12) -> bytes:
    """``2 + i % 4`` commits as a tar of versioned JSON files. Every
    ``bad_stripe``-th id truncates the LAST commit's final byte mid-
    JSON-line — the replay must reject the whole log."""
    n_commits = 2 + i % 4
    parts = []
    for v in range(n_commits):
        payload = b"\n".join(_commit_lines(i, v)) + b"\n"
        if i % bad_stripe == 0 and v == n_commits - 1:
            payload = payload[:-3]  # mid-line truncation
        name = f"{v:020d}.json"
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    parts.append(b"\x00" * (2 * _BLOCK))
    return b"".join(parts)


def synthesize_delta_log_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of Delta transaction logs (tar blobs)."""
    return synthesize_blobs(docs, _make_delta_log, blob_meta("delta"))


# --------------------------------------------------------------------------
# FULL TABLE SCAN: log replay + hand parquet reads of the live files
# --------------------------------------------------------------------------


def scan_delta_table(data: bytes) -> dict | None:
    """A complete Delta TABLE SCAN from raw bytes with zero library
    code — the end-to-end composition a lakehouse reader actually
    is: the tar carries the ``_delta_log`` commits AND the part
    files; the log replays to the live set, and every live file's
    ``k`` column is then read by the from-scratch parquet column
    walk (footer Thrift, pages, levels). The trust chain is
    CHECKED, not assumed: each live file's actual byte size must
    equal its add action's ``size``, and its actually-decoded row
    count must equal the add's ``stats.numRecords`` — a log that
    lies about its data degrades the whole table."""
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
    state = _replay_state(commits)
    if state is None:
        return None
    live, n_adds, n_removes = state
    from gmall_flink_210726_spark.operators.parquetmeta import (
        read_parquet_column_k,
    )

    live_rows = k_sum = 0
    for path, (size, rows, _pv, _st) in live.items():
        blob = parts.get(path)
        if blob is None or len(blob) != size:
            return None  # the add's size must tell the truth
        col = read_parquet_column_k(blob)
        if col is None:
            return None
        if col["n_values"] != rows:
            return None  # stats.numRecords vs the ACTUAL decode
        live_rows += col["n_values"]
        k_sum += col["k_sum"]
    return {
        "n_commits": len(commits),
        "live_files": len(live),
        "live_rows": live_rows,
        "k_sum": k_sum,
    }


DELTA_SCAN_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_commits", LongType()),
        StructField("live_files", LongType()),
        StructField("live_rows", LongType()),
        StructField("k_sum", LongType()),
    ]
)


def delta_scan_stats(df: DataFrame) -> DataFrame:
    """Full Delta table scan over MEDIA_SCHEMA blobs."""
    return blob_stats(df, scan_delta_table, DELTA_SCAN_SCHEMA, "delta")


def _scan_seed(i: int, v: int, k: int) -> int:
    return (17 * i + 31 * v + 7 * k) % 4000 + 1


def _make_delta_table(i: int, bad_stripe: int = 13) -> bytes:
    """A COMPLETE Delta table as one tar: ``2 + i % 3`` commits under
    ``_delta_log/`` plus the REAL parquet part files their adds
    reference (written by pyarrow with per-file seeds; sizes and
    numRecords in the adds are the files' true values). Commit 0
    adds two files; each later commit adds one and — when (i+v)%2==0
    — removes the previous commit's file. Every ``bad_stripe``-th
    id's LAST add (a file no remove ever targets, so always live)
    overstates stats.numRecords by one: the log is structurally
    valid, every file parses, and only the stats-vs-actual-decode
    trust check can catch the lie."""
    from gmall_flink_210726_spark.operators.parquetmeta import (
        _make_parquet,
    )

    n_commits = 2 + i % 3
    members: list[tuple[str, bytes]] = []
    log_parts: list[bytes] = []
    for v in range(n_commits):
        lines: list[bytes] = []
        if v == 0:
            lines.append(
                json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 1,
                            "minWriterVersion": 2,
                        }
                    }
                ).encode()
            )
            lines.append(
                json.dumps(
                    {"metaData": {"id": f"tbl-{i}", "format": {}}}
                ).encode()
            )
            ks = (0, 1)
        else:
            ks = (0,)
        for k in ks:
            s = _scan_seed(i, v, k)
            blob = _make_parquet(s, "NONE", bad_stripe=s + 1)
            path = f"part-{v:05d}-{k}.parquet"
            members.append((path, blob))
            rows = 10 + s % 90
            # the lie goes on the LAST commit's add — a file no
            # remove ever targets, so it is always in the live set
            if v == n_commits - 1 and k == 0 and i % bad_stripe == 0:
                rows += 1  # only the actual decode catches this
            lines.append(
                json.dumps(
                    {
                        "add": {
                            "path": path,
                            "partitionValues": {},
                            "size": len(blob),
                            "modificationTime": 0,
                            "dataChange": True,
                            "stats": json.dumps({"numRecords": rows}),
                        }
                    }
                ).encode()
            )
        if v > 0 and (i + v) % 2 == 0:
            prev = f"part-{v - 1:05d}-0.parquet"
            lines.append(
                json.dumps(
                    {
                        "remove": {
                            "path": prev,
                            "deletionTimestamp": 1,
                            "dataChange": True,
                        }
                    }
                ).encode()
            )
        log_parts.append(b"\n".join(lines) + b"\n")
    for v, payload in enumerate(log_parts):
        members.append((f"_delta_log/{v:020d}.json", payload))
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_delta_table_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of complete Delta tables (log + parts)."""
    return synthesize_blobs(docs, _make_delta_table, blob_meta("delta"))


# --------------------------------------------------------------------------
# Stats-based FILE SKIPPING (delta.io/PROTOCOL.md "Per-file
# Statistics"): add.stats carries minValues/maxValues per column, and
# a range predicate prunes files BEFORE any parquet bytes are fetched
# — the skipping rung every real Delta reader uses at scale (at
# 100 TB the pruned part files are never even opened; only the
# few-KB log is read). The trust chain is CHECKED on every file the
# predicate does open: the claimed min/max must equal the
# actually-decoded min/max (a lying-stats file that the skip layer
# trusted blind would silently drop live rows).
# --------------------------------------------------------------------------

DELTA_SKIP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_commits", LongType()),
        StructField("live_files", LongType()),
        StructField("n_skipped", LongType()),
        StructField("n_read", LongType()),
        StructField("skipped_rows", LongType()),
        StructField("n_matching", LongType()),
        StructField("match_sum", LongType()),
    ]
)


def scan_delta_table_pruned(data: bytes, lo: int, hi: int) -> dict | None:
    """Delta table scan with add.stats min/max skipping for the
    predicate ``lo <= k <= hi``. Files whose [minValues.k,
    maxValues.k] window misses the range are SKIPPED without
    touching their bytes; read files are fully decoded and their
    claimed min/max re-proven against the actual values."""
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
    state = _replay_state(commits)
    if state is None:
        return None
    live, _n_adds, _n_removes = state
    from gmall_flink_210726_spark.operators.parquetmeta import (
        read_parquet_column_k,
    )

    n_skipped = n_read = skipped_rows = n_matching = match_sum = 0
    for path, (size, rows, _pv, stats) in live.items():
        mins = stats.get("minValues")
        maxs = stats.get("maxValues")
        if (
            not isinstance(mins, dict)
            or not isinstance(maxs, dict)
            or not isinstance(mins.get("k"), int)
            or not isinstance(maxs.get("k"), int)
        ):
            return None  # this scan NEEDS the skipping stats
        mn, mx = mins["k"], maxs["k"]
        if mn > mx:
            return None  # impossible window
        if mx < lo or mn > hi:
            n_skipped += 1
            skipped_rows += rows
            continue  # file bytes never touched
        blob = parts.get(path)
        if blob is None or len(blob) != size:
            return None
        col = read_parquet_column_k(blob, collect_values=True)
        if col is None:
            return None
        if col["n_values"] != rows:
            return None
        vals = col["values"]
        if min(vals) != mn or max(vals) != mx:
            return None  # lying min/max on a file we DID read
        n_read += 1
        sel = [v for v in vals if lo <= v <= hi]
        n_matching += len(sel)
        match_sum += sum(sel)
    return {
        "n_commits": len(commits),
        "live_files": len(live),
        "n_skipped": n_skipped,
        "n_read": n_read,
        "skipped_rows": skipped_rows,
        "n_matching": n_matching,
        "match_sum": match_sum,
    }


def delta_stats_skip_scan(df: DataFrame, lo: int, hi: int) -> DataFrame:
    """Pruned Delta scan over MEDIA_SCHEMA blobs."""
    return blob_stats(
        df, lambda b: scan_delta_table_pruned(b, lo, hi), DELTA_SKIP_SCHEMA, "delta"
    )


def _make_delta_table_stats(i: int) -> bytes:
    """A Delta table whose adds carry TRUE minValues/maxValues for
    ``k`` (recomputed from the same formula the part files are
    written with), except two stripes on the LAST add (always live):
    every 14th id claims a max ONE BELOW the real max — when the
    predicate opens that file, the actual decode must expose the lie
    (the L192 trust-chain pattern); every 23rd-miss-14th id claims a
    window at [2000, 2003], outside every fixture predicate — the
    file is silently pruned, documenting the trust boundary
    skipping inherently has: a lie on a file you never open cannot
    be caught, and the oracle models the reader (the skip), not the
    ground truth. Layout mirrors ``_make_delta_table`` (2 + i%3
    commits, removes on (i+v)%2==0)."""
    from gmall_flink_210726_spark.operators.parquetmeta import (
        _make_parquet,
    )

    n_commits = 2 + i % 3
    members: list[tuple[str, bytes]] = []
    log_parts: list[bytes] = []
    for v in range(n_commits):
        lines: list[bytes] = []
        if v == 0:
            lines.append(
                json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 1,
                            "minWriterVersion": 2,
                        }
                    }
                ).encode()
            )
            lines.append(
                json.dumps(
                    {"metaData": {"id": f"tbl-{i}", "format": {}}}
                ).encode()
            )
            ks = (0, 1)
        else:
            ks = (0,)
        for k in ks:
            s = _scan_seed(i, v, k)
            blob = _make_parquet(s, "NONE", bad_stripe=s + 1)
            path = f"part-{v:05d}-{k}.parquet"
            members.append((path, blob))
            n = 10 + s % 90
            vals = [(s * 7 + 3 * r) % 1000 for r in range(n)]
            mn, mx = min(vals), max(vals)
            last = v == n_commits - 1 and k == 0
            if last and i % 14 == 0:
                mx -= 1  # in-window lie: actual max exceeds claim
            elif last and i % 23 == 0:
                # whole window shifted out of every fixture predicate
                # (predicates live in [0, 1000)); a skip layer that
                # never re-proves would silently drop this file
                mn, mx = 2000, 2003
            lines.append(
                json.dumps(
                    {
                        "add": {
                            "path": path,
                            "partitionValues": {},
                            "size": len(blob),
                            "modificationTime": 0,
                            "dataChange": True,
                            "stats": json.dumps(
                                {
                                    "numRecords": n,
                                    "minValues": {"k": mn},
                                    "maxValues": {"k": mx},
                                    "nullCount": {"k": 0},
                                }
                            ),
                        }
                    }
                ).encode()
            )
        if v > 0 and (i + v) % 2 == 0:
            prev = f"part-{v - 1:05d}-0.parquet"
            lines.append(
                json.dumps(
                    {
                        "remove": {
                            "path": prev,
                            "deletionTimestamp": 1,
                            "dataChange": True,
                        }
                    }
                ).encode()
            )
        log_parts.append(b"\n".join(lines) + b"\n")
    for v, payload in enumerate(log_parts):
        members.append((f"_delta_log/{v:020d}.json", payload))
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_delta_stats_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of Delta tables with min/max file stats."""
    return synthesize_blobs(docs, _make_delta_table_stats, blob_meta("delta"))


# --------------------------------------------------------------------------
# TIME TRAVEL (version-as-of): Delta's core read feature after the
# snapshot itself — ``VERSION AS OF v`` replays ONLY commits 0..v
# (delta.io/PROTOCOL.md: the state at version v is the replay of the
# first v+1 commit files). Corruption in LATER commits is invisible
# to an as-of read (those files are never opened), and traveling past
# the log's end refuses.
# --------------------------------------------------------------------------


def replay_delta_log_asof(data: bytes, version: int) -> dict | None:
    """Tar of commit files -> the snapshot AS OF ``version``; None on
    any protocol violation within commits 0..version, or when the log
    has no such version."""
    members = _iter_tar_members(data)
    if members is None:
        return None
    commits = _collect_commits(members)
    if commits is None:
        return None
    if version < 0 or version >= len(commits):
        return None  # cannot travel to a version the log never had
    upto = {v: commits[v] for v in range(version + 1)}
    state = _replay_state(upto)
    if state is None:
        return None
    live, n_adds, n_removes = state
    return {
        "version": version,
        "n_commits": len(commits),
        "n_adds": n_adds,
        "n_removes": n_removes,
        "live_files": len(live),
        "live_bytes": sum(e[0] for e in live.values()),
        "live_rows": sum(e[1] for e in live.values()),
        "n_partitions": len({e[2] for e in live.values()}),
    }


DELTA_ASOF_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("version", LongType()),
        StructField("n_commits", LongType()),
        StructField("n_adds", LongType()),
        StructField("n_removes", LongType()),
        StructField("live_files", LongType()),
        StructField("live_bytes", LongType()),
        StructField("live_rows", LongType()),
        StructField("n_partitions", LongType()),
    ]
)


def delta_asof_stats(df: DataFrame, version: int) -> DataFrame:
    """Version-as-of replay over MEDIA_SCHEMA blobs."""
    return blob_stats(
        df, lambda b: replay_delta_log_asof(b, version), DELTA_ASOF_SCHEMA, "delta"
    )


# --------------------------------------------------------------------------
# PARTITION PRUNING: Delta's partitionValues are metadata — the
# partition column is a table column whose per-file value lives in
# the add action, not in the parquet bytes. An equality predicate on
# the partition column prunes files during LOG REPLAY (bytes never
# touched). The fixture's partitioning is DERIVED (pk = k % 4, every
# row of a file sharing it), so the trust chain is CHECKABLE on
# every file the predicate opens: each decoded k must satisfy
# k % 4 == the claimed partition value — a mis-routed writer (the
# real-world lie: a file landed under the wrong partition) degrades
# the table the moment the predicate selects it.
# --------------------------------------------------------------------------

DELTA_PART_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_commits", LongType()),
        StructField("live_files", LongType()),
        StructField("n_pruned", LongType()),
        StructField("n_read", LongType()),
        StructField("read_rows", LongType()),
        StructField("k_sum", LongType()),
    ]
)


def scan_delta_table_partition_pruned(
    data: bytes, pcol: str, pval: str
) -> dict | None:
    """Delta scan with partitionValues equality pruning (section
    doc); None on any protocol or trust-chain violation."""
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
    state = _replay_state(commits)
    if state is None:
        return None
    live, _a, _r = state
    from gmall_flink_210726_spark.operators.parquetmeta import (
        read_parquet_column_k,
    )

    n_pruned = n_read = read_rows = k_sum = 0
    for path, (size, rows, pv_json, _st) in live.items():
        pv = json.loads(pv_json)
        claimed = pv.get(pcol)
        if not isinstance(claimed, str):
            return None  # a partitioned table's adds must carry it
        if claimed != pval:
            n_pruned += 1
            continue  # bytes never touched
        blob = parts.get(path)
        if blob is None or len(blob) != size:
            return None
        col = read_parquet_column_k(blob, collect_values=True)
        if col is None or col["n_values"] != rows:
            return None
        want = int(pval)
        if any(v % 4 != want for v in col["values"]):
            return None  # mis-routed file: wrong partition claimed
        n_read += 1
        read_rows += rows
        k_sum += col["k_sum"]
    return {
        "n_commits": len(commits),
        "live_files": len(live),
        "n_pruned": n_pruned,
        "n_read": n_read,
        "read_rows": read_rows,
        "k_sum": k_sum,
    }


def delta_partition_prune_scan(
    df: DataFrame, pcol: str, pval: str
) -> DataFrame:
    """Partition-pruned Delta scan over MEDIA_SCHEMA blobs."""
    return blob_stats(
        df,
        lambda b: scan_delta_table_partition_pruned(b, pcol, pval),
        DELTA_PART_SCHEMA,
        "delta",
    )


def _part_kvals(i: int, v: int, k: int) -> tuple[int, list[int]]:
    """(true pk, k values) for file (v, k) of table i."""
    s = _scan_seed(i, v, k)
    pk = (i + v + k) % 4
    n = 10 + s % 90
    return pk, [pk + 4 * ((s * 7 + 3 * r) % 250) for r in range(n)]


def _make_delta_part_table(i: int) -> bytes:
    """Partitioned Delta table: file (v, k)'s rows ALL satisfy
    k % 4 == pk, and the add declares partitionValues {"pk": pk}.
    Layout mirrors _make_delta_table (2 + i%3 commits, removes on
    (i+v)%2==0). Lie stripe: every 15th id's LAST add (always live)
    claims (pk+1)%4 — a mis-routed file that degrades exactly when
    the predicate selects the CLAIMED value, and is silently pruned
    otherwise (the same trust boundary the stats-skip fixture
    documents)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    n_commits = 2 + i % 3
    members: list[tuple[str, bytes]] = []
    log_parts: list[bytes] = []
    for v in range(n_commits):
        lines: list[bytes] = []
        if v == 0:
            lines.append(
                json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 1,
                            "minWriterVersion": 2,
                        }
                    }
                ).encode()
            )
            lines.append(
                json.dumps(
                    {
                        "metaData": {
                            "id": f"tbl-{i}",
                            "partitionColumns": ["pk"],
                            "format": {},
                        }
                    }
                ).encode()
            )
            ks = (0, 1)
        else:
            ks = (0,)
        for k in ks:
            pk, kv = _part_kvals(i, v, k)
            table = pa.table({"k": pa.array(kv, pa.int64())})
            buf = io.BytesIO()
            pq.write_table(
                table, buf,
                write_statistics=False, use_dictionary=False,
            )
            blob = buf.getvalue()
            path = f"pk={pk}/part-{v:05d}-{k}.parquet"
            members.append((path, blob))
            claimed = pk
            if v == n_commits - 1 and k == 0 and i % 15 == 0:
                claimed = (pk + 1) % 4  # mis-routed file
            lines.append(
                json.dumps(
                    {
                        "add": {
                            "path": path,
                            "partitionValues": {"pk": str(claimed)},
                            "size": len(blob),
                            "modificationTime": 0,
                            "dataChange": True,
                            "stats": json.dumps(
                                {"numRecords": len(kv)}
                            ),
                        }
                    }
                ).encode()
            )
        if v > 0 and (i + v) % 2 == 0:
            prev_pk, _ = _part_kvals(i, v - 1, 0)
            lines.append(
                json.dumps(
                    {
                        "remove": {
                            "path": f"pk={prev_pk}/part-{v - 1:05d}-0"
                            ".parquet",
                            "deletionTimestamp": 1,
                            "dataChange": True,
                        }
                    }
                ).encode()
            )
        log_parts.append(b"\n".join(lines) + b"\n")
    for v, payload in enumerate(log_parts):
        members.append((f"_delta_log/{v:020d}.json", payload))
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_delta_part_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of partitioned Delta tables."""
    return synthesize_blobs(docs, _make_delta_part_table, blob_meta("delta"))


# --------------------------------------------------------------------------
# Column mapping (delta.io/PROTOCOL.md 'Column Mapping'): id + name
# modes — the Delta twin of Iceberg's field-id evolution (L254)
# --------------------------------------------------------------------------
#
# With ``delta.columnMapping.mode`` set, parquet files store columns
# under per-field PHYSICAL names (``delta.columnMapping.physicalName``
# in the schema field metadata), and readers resolve logical columns
# either by that physical name (``name`` mode) or by parquet field id
# == ``delta.columnMapping.id`` (``id`` mode).  Resolving by LOGICAL
# name is wrong the moment a column has ever been renamed: the old
# physical remnant may still exist under the logical name with stale
# values — the fixture plants exactly that decoy in every file.


def _parse_mapped_schema(md: dict) -> tuple[str, list[dict]] | None:
    """metaData action -> (mode, [{name, id, physical}]) or None on
    a malformed schemaString / configuration."""
    conf = md.get("configuration", {})
    if not isinstance(conf, dict):
        return None
    mode = conf.get("delta.columnMapping.mode", "none")
    if mode not in ("none", "id", "name"):
        return None
    try:
        sch = json.loads(md["schemaString"])
    except (TypeError, ValueError, KeyError):
        return None
    if not isinstance(sch, dict) or not isinstance(
        sch.get("fields"), list
    ):
        return None
    fields = []
    for f in sch["fields"]:
        if not isinstance(f, dict) or not isinstance(
            f.get("name"), str
        ):
            return None
        fm = f.get("metadata", {})
        if not isinstance(fm, dict):
            return None
        cid = fm.get("delta.columnMapping.id")
        phys = fm.get("delta.columnMapping.physicalName")
        if mode != "none" and (
            not isinstance(cid, int) or not isinstance(phys, str)
        ):
            return None  # mapping mode demands complete metadata
        fields.append(
            {"name": f["name"], "id": cid, "physical": phys}
        )
    return mode, fields


def scan_delta_column_mapped(data: bytes) -> dict | None:
    """Full table scan under column mapping: log replay, then every
    live file's logical columns resolved by physical name (``name``
    mode) or parquet field id (``id`` mode) — never by logical name.
    None on any protocol/trust violation: a live file missing a
    mapped column, duplicate field ids, size or numRecords lies."""
    from gmall_flink_210726_spark.operators.parquetmeta import (
        parquet_leaf_fields,
        read_parquet_column_k,
    )

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
    meta_box: list = []
    state = _replay_state(commits, max_reader=2, meta_out=meta_box)
    if state is None:
        return None
    live, _n_adds, _n_removes = state
    # the LATEST metaData action wins (schema evolution); _replay_state
    # already walked the log, so take the metaData it saw last
    if not meta_box:
        return None
    mapped = _parse_mapped_schema(meta_box[0])
    if mapped is None:
        return None
    mode, fields = mapped
    live_rows = 0
    sums = {f["name"]: 0 for f in fields}
    for path, (size, rows, _pv, _st) in live.items():
        blob = parts.get(path)
        if blob is None or len(blob) != size:
            return None
        if mode == "id":
            leaves = parquet_leaf_fields(blob)
            if leaves is None:
                return None
            by_id: dict[int, bytes] = {}
            for fid, lname in leaves:
                if fid is None:
                    continue
                if fid in by_id:
                    return None  # duplicate field id
                by_id[fid] = lname
        n_checked = None
        for f in fields:
            if mode == "id":
                col_name = by_id.get(f["id"])
                if col_name is None:
                    return None  # mapped id missing from the file
            elif mode == "name":
                col_name = f["physical"].encode("utf-8")
            else:
                col_name = f["name"].encode("utf-8")
            col = read_parquet_column_k(blob, name=col_name)
            if col is None or col["n_values"] != rows:
                return None
            sums[f["name"]] += col["k_sum"]
            n_checked = col["n_values"]
        if n_checked is None:
            return None
        live_rows += rows
    return {
        "mode": mode,
        "n_commits": len(commits),
        "live_files": len(live),
        "live_rows": live_rows,
        "k_sum": sums.get("k", 0),
        "score_sum": sums.get("score", 0),
    }


DELTA_CM_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("mode", StringType()),
        StructField("n_commits", LongType()),
        StructField("live_files", LongType()),
        StructField("live_rows", LongType()),
        StructField("k_sum", LongType()),
        StructField("score_sum", LongType()),
    ]
)


def delta_column_mapping_scan(df: DataFrame) -> DataFrame:
    """Column-mapped Delta scan over MEDIA_SCHEMA blobs."""
    return blob_stats(
        df,
        scan_delta_column_mapped,
        DELTA_CM_SCHEMA,
        "delta",
        defaults={"mode": "none"},
    )


def _cm_n(i: int, f: int) -> int:
    return 8 + (i + 2 * f) % 9


def _cm_k(i: int, f: int, r: int) -> int:
    return (7 * i + 13 * f + 3 * r) % 1000


def _cm_s(i: int, f: int, r: int) -> int:
    return (5 * i + 11 * f + 2 * r) % 500


def _make_delta_cm_table(i: int) -> bytes:
    """Column-mapped Delta table: mode ``id`` on even ids, ``name``
    on odd. Logical columns ``k`` / ``score`` live physically as
    ``col-k-<i>`` (id 1) / ``col-score-<i>`` (id 2); EVERY file also
    carries a DECOY physical column literally named ``k`` (field id
    99) holding value+1 — the pre-rename remnant a logical-name
    reader would wrongly read. Commit 0 adds files 0-1, commit 1
    adds file 2 and removes file 0 when i%3==0. Lies: every 13th
    id's last file OMITS the mapped k column entirely (schema says
    it must exist - refused); every 17th-miss id's last add
    overstates numRecords (refused by the decode)."""
    from gmall_flink_210726_spark.operators.iceberg2 import _evo_parquet

    mode = "id" if i % 2 == 0 else "name"
    phys_k = f"col-k-{i}"
    phys_s = f"col-score-{i}"
    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {
                    "name": "k",
                    "type": "long",
                    "nullable": False,
                    "metadata": {
                        "delta.columnMapping.id": 1,
                        "delta.columnMapping.physicalName": phys_k,
                    },
                },
                {
                    "name": "score",
                    "type": "long",
                    "nullable": False,
                    "metadata": {
                        "delta.columnMapping.id": 2,
                        "delta.columnMapping.physicalName": phys_s,
                    },
                },
            ],
        }
    )
    members: list[tuple[str, bytes]] = []
    adds: dict[int, list[bytes]] = {0: [], 1: []}
    for f in range(3):
        n = _cm_n(i, f)
        kv = [_cm_k(i, f, r) for r in range(n)]
        sv = [_cm_s(i, f, r) for r in range(n)]
        decoy = [(v + 1) % 1000 for v in kv]
        cols = [
            (phys_k, 1, kv),
            (phys_s, 2, sv),
            ("k", 99, decoy),  # the pre-rename physical remnant
        ]
        if i % 13 == 0 and f == 2:
            cols = cols[1:]  # mapped k column missing: refuse
        blob = _evo_parquet(cols)
        path = f"part-{f:05d}.parquet"
        members.append((path, blob))
        rows = n
        if i % 17 == 0 and i % 13 != 0 and f == 2:
            rows += 1  # numRecords lie: only the decode catches it
        adds[0 if f < 2 else 1].append(
            json.dumps(
                {
                    "add": {
                        "path": path,
                        "partitionValues": {},
                        "size": len(blob),
                        "modificationTime": 0,
                        "dataChange": True,
                        "stats": json.dumps({"numRecords": rows}),
                    }
                }
            ).encode()
        )
    c0 = [
        json.dumps(
            {
                "protocol": {
                    "minReaderVersion": 2,
                    "minWriterVersion": 5,
                }
            }
        ).encode(),
        json.dumps(
            {
                "metaData": {
                    "id": f"tbl-cm-{i}",
                    "format": {},
                    "schemaString": schema_string,
                    "configuration": {
                        "delta.columnMapping.mode": mode,
                        "delta.columnMapping.maxColumnId": "2",
                    },
                }
            }
        ).encode(),
        *adds[0],
    ]
    c1 = list(adds[1])
    if i % 3 == 0:
        c1.append(
            json.dumps(
                {
                    "remove": {
                        "path": "part-00000.parquet",
                        "deletionTimestamp": 1,
                        "dataChange": True,
                    }
                }
            ).encode()
        )
    members.append(("_delta_log/" + "0" * 20 + ".json", b"\n".join(c0) + b"\n"))
    members.append(
        (
            "_delta_log/" + "0" * 19 + "1.json",
            b"\n".join(c1) + b"\n",
        )
    )
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_delta_cm_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of column-mapped Delta tables."""
    return synthesize_blobs(docs, _make_delta_cm_table, blob_meta("delta"))


# --------------------------------------------------------------------------
# Version checksum files (``_delta_log/V.crc``): the log-level
# integrity layer real Delta writers emit per commit
# --------------------------------------------------------------------------


def scan_delta_table_checked(data: bytes) -> dict | None:
    """Full table scan with VERSION CHECKSUM verification: every
    ``_delta_log/<v>.crc`` present must agree with the post-commit
    snapshot replayed to that version (numFiles, tableSizeBytes,
    numMetadata, numProtocol) — a ``.crc`` that disagrees with
    replay refuses the table (the books-balance layer page/DV CRCs
    do not cover). Missing ``.crc`` files are tolerated (real logs
    have gaps); the data-level trust chain of ``scan_delta_table``
    then runs unchanged."""
    from gmall_flink_210726_spark.operators.parquetmeta import (
        read_parquet_column_k,
    )

    members = _iter_tar_members(data)
    if members is None:
        return None
    commit_members = []
    crc_files: dict[int, bytes] = {}
    parts: dict[str, bytes] = {}
    for name, payload in members:
        if name.startswith("_delta_log/"):
            base = name[len("_delta_log/") :]
            if base.endswith(".crc"):
                if len(base) != 24 or not base[:20].isdigit():
                    return None
                v = int(base[:20])
                if v in crc_files:
                    return None
                crc_files[v] = payload
            else:
                commit_members.append((base, payload))
        else:
            parts[name] = payload
    commits = _collect_commits(commit_members)
    if commits is None:
        return None
    if any(v >= len(commits) for v in crc_files):
        return None  # a checksum for a version that does not exist
    checksums: dict[int, dict] = {}
    for v, payload in sorted(crc_files.items()):
        try:
            crc = json.loads(payload.decode("utf-8"))
        except (ValueError, UnicodeDecodeError):
            return None
        if not isinstance(crc, dict):
            return None
        checksums[v] = crc

    # one incremental replay; each version's .crc is checked against
    # the post-commit state as the replay reaches it (O(V), not O(V^2))
    def _check(v: int, live_v: dict) -> bool:
        crc = checksums.get(v)
        if crc is None:
            return True
        if crc.get("numFiles") != len(live_v):
            return False
        if crc.get("tableSizeBytes") != sum(
            sz for sz, _rows, _pv, _s in live_v.values()
        ):
            return False
        return crc.get("numMetadata") == 1 and crc.get("numProtocol") == 1

    state = _replay_state(commits, on_version=_check)
    if state is None:
        return None
    n_crc = len(checksums)
    live, _n_adds, _n_removes = state
    live_rows = k_sum = 0
    for path, (size, rows, _pv, _st) in live.items():
        blob = parts.get(path)
        if blob is None or len(blob) != size:
            return None
        col = read_parquet_column_k(blob)
        if col is None or col["n_values"] != rows:
            return None
        live_rows += col["n_values"]
        k_sum += col["k_sum"]
    return {
        "n_commits": len(commits),
        "n_crc": n_crc,
        "live_files": len(live),
        "live_rows": live_rows,
        "k_sum": k_sum,
    }


DELTA_CRC_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_commits", LongType()),
        StructField("n_crc", LongType()),
        StructField("live_files", LongType()),
        StructField("live_rows", LongType()),
        StructField("k_sum", LongType()),
    ]
)


def delta_checked_scan(df: DataFrame) -> DataFrame:
    """Checksum-verified Delta scan over MEDIA_SCHEMA blobs."""
    return blob_stats(df, scan_delta_table_checked, DELTA_CRC_SCHEMA, "delta")


def _make_delta_crc_table(i: int) -> bytes:
    """The ``_make_delta_table`` layout (same add/remove/file math,
    stats always TRUE) plus a truthful ``V.crc`` per version —
    except version 1's on every 5th id (gaps tolerated). Lies:
    every 13th id's LAST crc overstates tableSizeBytes by one;
    every 17th-miss id's LAST crc overstates numFiles — both refuse
    even though every commit and part file is individually clean."""
    from gmall_flink_210726_spark.operators.parquetmeta import (
        _make_parquet,
    )

    n_commits = 2 + i % 3
    members: list[tuple[str, bytes]] = []
    live: dict[str, int] = {}  # path -> size
    for v in range(n_commits):
        lines: list[bytes] = []
        if v == 0:
            lines.append(
                json.dumps(
                    {
                        "protocol": {
                            "minReaderVersion": 1,
                            "minWriterVersion": 2,
                        }
                    }
                ).encode()
            )
            lines.append(
                json.dumps(
                    {"metaData": {"id": f"tbl-crc-{i}", "format": {}}}
                ).encode()
            )
            ks = (0, 1)
        else:
            ks = (0,)
        for k in ks:
            s = _scan_seed(i, v, k)
            blob = _make_parquet(s, "NONE", bad_stripe=s + 1)
            path = f"part-{v:05d}-{k}.parquet"
            members.append((path, blob))
            live[path] = len(blob)
            lines.append(
                json.dumps(
                    {
                        "add": {
                            "path": path,
                            "partitionValues": {},
                            "size": len(blob),
                            "modificationTime": 0,
                            "dataChange": True,
                            "stats": json.dumps(
                                {"numRecords": 10 + s % 90}
                            ),
                        }
                    }
                ).encode()
            )
        if v > 0 and (i + v) % 2 == 0:
            prev = f"part-{v - 1:05d}-0.parquet"
            del live[prev]
            lines.append(
                json.dumps(
                    {
                        "remove": {
                            "path": prev,
                            "deletionTimestamp": 1,
                            "dataChange": True,
                        }
                    }
                ).encode()
            )
        members.append(
            (f"_delta_log/{v:020d}.json", b"\n".join(lines) + b"\n")
        )
        # the tolerated gap lands on a NON-last version so it can
        # never mask the last-version lie stripes
        gap_v = 0 if n_commits == 2 else 1
        if v == gap_v and i % 5 == 0:
            continue
        size_sum = sum(live.values())
        n_files = len(live)
        if v == n_commits - 1:
            if i % 13 == 0:
                size_sum += 1
            elif i % 17 == 0:
                n_files += 1
        members.append(
            (
                f"_delta_log/{v:020d}.crc",
                json.dumps(
                    {
                        "tableSizeBytes": size_sum,
                        "numFiles": n_files,
                        "numMetadata": 1,
                        "numProtocol": 1,
                    }
                ).encode(),
            )
        )
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_delta_crc_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of checksum-carrying Delta tables."""
    return synthesize_blobs(docs, _make_delta_crc_table, blob_meta("delta"))


# --------------------------------------------------------------------------
# Change Data Feed (Delta PROTOCOL.md "Change Data Files" / "Add CDC
# File").  A CDF-enabled table (delta.enableChangeDataFeed=true)
# records row-level changes: when a commit carries ``cdc`` actions,
# its changes are read from those ``_change_data/`` parquet files
# ONLY (rows tagged insert / update_preimage / update_postimage /
# delete in the _change_type column); a commit without cdc actions
# derives changes from its data actions — adds with dataChange=true
# are inserts, removes with dataChange=true are deletes.  This is the
# reference's CDC surface (sources/cdc.py, `an3`/`st14` envelope
# semantics) at the TABLE-FORMAT layer: the same
# insert/update-pre/update-post/delete taxonomy Debezium emits, but
# reconstructed from the transaction log itself.
#
# Trust chain: protocol + CDF flag gates; every referenced file
# (add / remove / cdc) must exist with its claimed size; cdc rows
# must carry a KNOWN _change_type; per commit the update books must
# balance — every update_preimage needs its update_postimage
# (equal counts, or the feed is lying about what changed).
# --------------------------------------------------------------------------


def read_delta_cdf(data: bytes) -> dict | None:
    """Tar table -> aggregated change feed across all versions; None
    on any violation (section doc).  The action grammar runs through
    _replay_state's single copy (``actions_out``); this function owns
    only the CDF semantics: the enable-flag gate, file-size books,
    cdc-vs-derived routing, change-type taxonomy, and the per-commit
    update pre/post balance."""
    from gmall_flink_210726_spark.operators.parquetmeta import (
        read_parquet_column_k,
        read_parquet_column_s_dict,
    )

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
    actions: list = []
    state = _replay_state(commits, actions_out=actions)
    if state is None:
        return None
    by_version: dict[int, dict[str, list]] = {
        v: {"add": [], "remove": [], "cdc": [], "metaData": []}
        for v in range(len(commits))
    }
    for v, kind, act in actions:
        if kind in by_version[v]:
            by_version[v][kind].append(act)
    cdf_enabled = False
    n_cdc_commits = 0
    inserts = deletes = pre = post = 0
    ins_sum = del_sum = 0
    for v in range(len(commits)):
        acts = by_version[v]
        for md in acts["metaData"]:
            conf = md.get("configuration", {})
            if not isinstance(conf, dict):
                return None
            cdf_enabled = (
                conf.get("delta.enableChangeDataFeed") == "true"
            )
        if not cdf_enabled:
            return None  # the feed may only be read when enabled
        # every referenced file must exist with its claimed size
        for a in acts["add"]:
            blob = parts.get(a["path"])
            if blob is None or len(blob) != a["size"]:
                return None
        for c in acts["cdc"]:
            blob = parts.get(c["path"])
            if blob is None or len(blob) != c["size"]:
                return None
        if acts["cdc"]:
            n_cdc_commits += 1
            v_pre = v_post = 0
            for c in acts["cdc"]:
                blob = parts[c["path"]]
                types = read_parquet_column_s_dict(
                    blob, name=b"_change_type", collect_values=True
                )
                ks = read_parquet_column_k(
                    blob, collect_values=True, name=b"k"
                )
                if (
                    types is None
                    or ks is None
                    or types["n_nulls"]
                    or types["n_values"] != ks["n_values"]
                ):
                    return None
                for t, kv in zip(types["values"], ks["values"]):
                    if t == b"insert":
                        inserts += 1
                        ins_sum += kv
                    elif t == b"delete":
                        deletes += 1
                        del_sum += kv
                    elif t == b"update_preimage":
                        v_pre += 1
                    elif t == b"update_postimage":
                        v_post += 1
                    else:
                        return None  # unknown change type
            if v_pre != v_post:
                return None  # the update books must balance
            pre += v_pre
            post += v_post
        else:
            for a in acts["add"]:
                if a.get("dataChange") is not True:
                    continue
                rows = json.loads(a["stats"])["numRecords"]
                col = read_parquet_column_k(
                    parts[a["path"]], collect_values=True, name=b"k"
                )
                if col is None or col["n_values"] != rows:
                    return None  # stats vs the actual decode
                inserts += col["n_values"]
                ins_sum += sum(col["values"])
            for r in acts["remove"]:
                if r.get("dataChange") is not True:
                    continue
                blob = parts.get(r["path"])
                if blob is None:
                    return None  # vacuumed: the feed is unreadable
                col = read_parquet_column_k(
                    blob, collect_values=True, name=b"k"
                )
                if col is None:
                    return None
                deletes += col["n_values"]
                del_sum += sum(col["values"])
    return {
        "n_versions": len(commits),
        "n_cdc_commits": n_cdc_commits,
        "inserts": inserts,
        "deletes": deletes,
        "updates": pre,
        "ins_k_sum": ins_sum,
        "del_k_sum": del_sum,
    }



CDF_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_versions", LongType()),
        StructField("n_cdc_commits", LongType()),
        StructField("inserts", LongType()),
        StructField("deletes", LongType()),
        StructField("updates", LongType()),
        StructField("ins_k_sum", LongType()),
        StructField("del_k_sum", LongType()),
    ]
)


def delta_cdf_stats(df: DataFrame) -> DataFrame:
    """Change-data-feed read over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_delta_cdf, CDF_SCHEMA, "delta-cdf")


def _cdf_n0(i: int) -> int:
    return 15 + i % 20


def _cdf_nu(i: int) -> int:
    return 4 + i % 5


def _cdf_nd(i: int) -> int:
    return 3 + i % 4


def _cdf_k(i: int, r: int) -> int:
    return (7 * i + 3 * r) % 1000


def _cdf_k2(i: int, r: int) -> int:
    return (11 * i + 5 * r) % 1000


def _cdf_parquet(cols: dict) -> bytes:
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    arrays = {}
    use_dict = []
    for name, vals in cols.items():
        if vals and isinstance(vals[0], str):
            arrays[name] = pa.array(vals)
            use_dict.append(name)
        else:
            arrays[name] = pa.array(vals, pa.int64())
    buf = io.BytesIO()
    pq.write_table(
        pa.table(arrays),
        buf,
        write_statistics=False,
        use_dictionary=use_dict or False,
    )
    return buf.getvalue()


def _make_delta_cdf_table(i: int) -> bytes:
    """CDF-enabled table: v0 adds the base file (derived inserts);
    v1 updates ``4+i%5`` rows via a cdc file (pre+post pairs); v2
    deletes the LAST ``3+i%4`` rows via a cdc file; v3 (even ids)
    adds new data with no cdc (derived inserts again). Lies: every
    13th id drops one update_postimage row (the update books refuse);
    every 17th-miss id lies about a cdc file's size (refused); every
    19th-miss id tags a cdc row with an unknown _change_type
    (refused); disabling the CDF flag refuses in a test."""
    n0, nu, nd = _cdf_n0(i), _cdf_nu(i), _cdf_nd(i)
    members: list[tuple[str, bytes]] = []
    log: list[tuple[str, bytes]] = []

    def commit(v: int, lines: list[dict]) -> None:
        log.append(
            (
                "%020d.json" % v,
                b"\n".join(
                    json.dumps(x).encode() for x in lines
                ),
            )
        )

    f0 = _cdf_parquet({"k": [_cdf_k(i, r) for r in range(n0)]})
    members.append(("part-0.parquet", f0))
    commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {
                "metaData": {
                    "id": f"tbl-cdf-{i}",
                    "configuration": {
                        "delta.enableChangeDataFeed": "true"
                    },
                }
            },
            {
                "add": {
                    "path": "part-0.parquet",
                    "size": len(f0),
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": n0}),
                }
            },
        ],
    )
    # v1: update rows 0..nu-1 (post = pre + 7), via cdc
    pre_rows = [(r, _cdf_k(i, r)) for r in range(nu)]
    cdc1_types = ["update_preimage"] * nu + ["update_postimage"] * nu
    cdc1_k = [k for _r, k in pre_rows] + [
        k + 7 for _r, k in pre_rows
    ]
    if i % 13 == 0:
        cdc1_types = cdc1_types[:-1]
        cdc1_k = cdc1_k[:-1]  # one postimage short: books break
    if i % 19 == 0 and i % 13 != 0 and i % 17 != 0:
        cdc1_types[0] = "upsert"  # unknown change type
    cdc1 = _cdf_parquet({"k": cdc1_k, "_change_type": cdc1_types})
    members.append(("_change_data/cdc-1.parquet", cdc1))
    f1 = _cdf_parquet(
        {
            "k": [
                _cdf_k(i, r) + (7 if r < nu else 0)
                for r in range(n0)
            ]
        }
    )
    members.append(("part-1.parquet", f1))
    cdc1_size = len(cdc1)
    if i % 17 == 0 and i % 13 != 0:
        cdc1_size += 1
    commit(
        1,
        [
            {
                "cdc": {
                    "path": "_change_data/cdc-1.parquet",
                    "size": cdc1_size,
                    "dataChange": False,
                }
            },
            {
                "remove": {
                    "path": "part-0.parquet",
                    "dataChange": True,
                }
            },
            {
                "add": {
                    "path": "part-1.parquet",
                    "size": len(f1),
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": n0}),
                }
            },
        ],
    )
    # v2: delete the last nd rows, via cdc
    del_rows = [
        _cdf_k(i, r) + (7 if r < nu else 0)
        for r in range(n0 - nd, n0)
    ]
    cdc2 = _cdf_parquet(
        {"k": del_rows, "_change_type": ["delete"] * nd}
    )
    members.append(("_change_data/cdc-2.parquet", cdc2))
    f2 = _cdf_parquet(
        {
            "k": [
                _cdf_k(i, r) + (7 if r < nu else 0)
                for r in range(n0 - nd)
            ]
        }
    )
    members.append(("part-2.parquet", f2))
    commit(
        2,
        [
            {
                "cdc": {
                    "path": "_change_data/cdc-2.parquet",
                    "size": len(cdc2),
                    "dataChange": False,
                }
            },
            {
                "remove": {
                    "path": "part-1.parquet",
                    "dataChange": True,
                }
            },
            {
                "add": {
                    "path": "part-2.parquet",
                    "size": len(f2),
                    "dataChange": True,
                    "stats": json.dumps({"numRecords": n0 - nd}),
                }
            },
        ],
    )
    if i % 2 == 0:
        n1 = 5 + i % 6
        f3 = _cdf_parquet(
            {"k": [_cdf_k2(i, r) for r in range(n1)]}
        )
        members.append(("part-3.parquet", f3))
        commit(
            3,
            [
                {
                    "add": {
                        "path": "part-3.parquet",
                        "size": len(f3),
                        "dataChange": True,
                        "stats": json.dumps({"numRecords": n1}),
                    }
                }
            ],
        )
    all_members = [
        (f"_delta_log/{name}", payload) for name, payload in log
    ] + members
    parts = []
    for name, payload in all_members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_delta_cdf_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of CDF-enabled Delta tables."""
    return synthesize_blobs(docs, _make_delta_cdf_table, blob_meta("delta"))
