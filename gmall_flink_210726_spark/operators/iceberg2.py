"""Iceberg BUCKET-transform partition pruning — the hash-partitioned
half of Iceberg's hidden partitioning (the range half is L232's
field-summary pruning): a table partitioned by ``bucket(N, k)``
routes every row to partition ``(murmur3_x86_32(little-endian-8(k),
seed 0) & Integer.MAX_VALUE) % N`` (Iceberg spec "Bucket Transform
Details"), and a point lookup computes the probe's bucket ONCE and
opens only the manifests/files claiming that bucket — the planner
move that turns a key lookup on a 100 TB table into one partition's
worth of I/O.

- ``murmur3_x86_32`` from the public MurmurHash3 spec: 4-byte
  little-endian blocks, c1/c2 mix with rotl 15/13, the 5h+0xe6546b64
  round, byte-accumulated tail, final avalanche. Pinned in tests
  against the canonical reference vectors AND Spark's JVM ``hash()``
  (the same algorithm at seed 42) on 4-aligned payloads.
- Trust chain: manifests whose claimed bucket range excludes the
  probe bucket are never fetched; every SELECTED data file's parquet
  is decoded and every key re-hashed — each must land in the file's
  claimed bucket (a wrong-bucket row is exactly how a mis-routed
  writer corrupts a bucketed table silently), and record_count must
  equal the actual decode.
- The fixture assigns buckets BY CONSTRUCTION (keys are searched
  until their hash lands in the target bucket), so every oracled
  count is hash-independent and the SQL oracle needs no murmur.

Reuses the round-11 machinery: tar walk, schema-driven Avro
containers, hand parquet column reads.
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.avro import (
    make_avro_container,
    read_avro_container,
)
from gmall_flink_210726_spark.operators.iceberg import (
    _i32le,
    _mor_parquet,
)
from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.tar import _BLOCK, _make_header
from gmall_flink_210726_spark.operators.wds import _iter_tar_members

_M32 = 0xFFFFFFFF
_N_BUCKETS = 16  # >= 2 * max manifests, so every claimed bucket exists


def murmur3_x86_32(data: bytes, seed: int = 0) -> int:
    """Canonical MurmurHash3 x86_32 (the Iceberg bucket hash at seed
    0; Spark's JVM hash() at seed 42)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & _M32
    n = len(data)

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (32 - r))) & _M32

    for off in range(0, n - n % 4, 4):
        (k,) = struct.unpack_from("<I", data, off)
        k = (k * c1) & _M32
        k = rotl(k, 15)
        k = (k * c2) & _M32
        h ^= k
        h = rotl(h, 13)
        h = (h * 5 + 0xE6546B64) & _M32
    tail = data[n - n % 4 :]
    k = 0
    for i, b in enumerate(tail):
        k |= b << (8 * i)
    if tail:
        k = (k * c1) & _M32
        k = rotl(k, 15)
        k = (k * c2) & _M32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h


def iceberg_bucket(k: int, n: int = _N_BUCKETS) -> int:
    """bucket(n, k) for a long key per the Iceberg spec: hash the
    8-byte little-endian two's-complement value at seed 0, mask to
    non-negative int32, mod n."""
    h = murmur3_x86_32(struct.pack("<q", k), 0)
    return (h & 0x7FFFFFFF) % n


def _iceberg_buckets_np(ks, n: int = _N_BUCKETS):
    """Vectorized ``iceberg_bucket`` over an int64 numpy array
    (optimization round 14, guide §4.2): the long-key case is two
    4-byte murmur blocks with no tail, done in uint64 lanes with
    explicit 32-bit masking; pinned equal to the scalar transform in
    tests/test_codec_fastpaths.py."""
    import numpy as np

    m32 = 0xFFFFFFFF
    blocks = np.ascontiguousarray(ks, dtype="<i8").view("<u4")
    blocks = blocks.reshape(-1, 2).astype(np.uint64)
    h = np.zeros(len(blocks), np.uint64)
    for j in (0, 1):
        k = (blocks[:, j] * 0xCC9E2D51) & m32
        k = ((k << np.uint64(15)) | (k >> np.uint64(17))) & m32
        k = (k * 0x1B873593) & m32
        h ^= k
        h = ((h << np.uint64(13)) | (h >> np.uint64(19))) & m32
        h = (h * 5 + 0xE6546B64) & m32
    h ^= np.uint64(8)
    h ^= h >> np.uint64(16)
    h = (h * 0x85EBCA6B) & m32
    h ^= h >> np.uint64(13)
    h = (h * 0xC2B2AE35) & m32
    h ^= h >> np.uint64(16)
    return (h & np.uint64(0x7FFFFFFF)) % np.uint64(n)


MLIST_SCHEMA_B = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
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

MANIFEST_SCHEMA_B = {
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
                    {"name": "partition_bucket", "type": "int"},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ],
            },
        },
    ],
}


def read_iceberg_bucket_prune(data: bytes, q: int) -> dict | None:
    """Point lookup of key ``q`` through bucket pruning: compute the
    probe bucket once, open only manifests whose claimed bucket
    range contains it, select only files claiming that bucket, and
    decode each selected file's parquet — every key must re-hash to
    the file's claimed bucket, record_count must match, and the
    match count falls out of the same decode."""
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
    tb = iceberg_bucket(q)
    n_read = files_sel = rows_sel = n_found = 0
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
            return None  # one partition field (the bucket)
        fs = parts[0]
        if not isinstance(fs, dict) or fs.get("contains_null"):
            return None  # bucket of a required key: never null
        bmin = _i32le(fs.get("lower_bound"))
        bmax = _i32le(fs.get("upper_bound"))
        if bmin is None or bmax is None or not 0 <= bmin <= bmax:
            return None
        if bmax >= _N_BUCKETS:
            return None
        if tb < bmin or tb > bmax:
            continue  # PRUNED: the probe's bucket cannot be here
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
                bkt = df["partition_bucket"]
                rows = df["record_count"]
                fpath = df["file_path"]
            except (TypeError, KeyError):
                return None
            if not bmin <= bkt <= bmax:
                return None  # the summary lied about an opened manifest
            if bkt != tb:
                continue  # a non-matching bucket file: never decoded
            pblob = files.get(fpath)
            if pblob is None:
                return None
            col = read_parquet_column_k(pblob, collect_values=True)
            if col is None or col["n_values"] != rows:
                return None
            for v in col["values"]:
                if iceberg_bucket(v) != bkt:
                    return None  # a mis-routed row: the bucket lied
            files_sel += 1
            rows_sel += rows
            n_found += sum(1 for v in col["values"] if v == q)
    return {
        "n_manifests": len(mlist),
        "n_manifests_read": n_read,
        "files_selected": files_sel,
        "rows_selected": rows_sel,
        "n_found": n_found,
    }


ICEBERG_BUCKET_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_manifests", LongType()),
        StructField("n_manifests_read", LongType()),
        StructField("files_selected", LongType()),
        StructField("rows_selected", LongType()),
        StructField("n_found", LongType()),
    ]
)


def _bucket_rows(i: int, m: int, e: int) -> int:
    return 10 + (i + 5 * m + e) % 40


def _bucket_keys(i: int, m: int, e: int, bucket: int) -> list[int]:
    """The first ``rows`` integers >= a per-file base whose Iceberg
    bucket equals ``bucket`` — hash-dependent membership, but every
    COUNT the oracle sees is fixed by construction."""
    import numpy as np

    rows = _bucket_rows(i, m, e)
    out: list[int] = []
    k = 1000 * (2 * m + e) + i
    # ~N_BUCKETS candidates per hit: probe in vectorized chunks
    # (identical membership to the scalar while-loop — same candidate
    # order, same bucket transform)
    while len(out) < rows:
        ks = np.arange(k, k + 16 * rows, dtype=np.int64)
        hits = ks[_iceberg_buckets_np(ks) == bucket]
        out.extend(int(x) for x in hits[: rows - len(out)])
        k += 16 * rows
    return out


def _bucket_params(i: int) -> tuple[int, int, int]:
    """(n manifests, target manifest, target file-slot) — manifest m
    claims buckets [2m, 2m+1]; the probe targets file slot i%2 of
    manifest i%nm, so exactly one manifest opens and one file
    decodes."""
    nm = 3 + i % 3
    return nm, i % nm, i % 2


def _make_iceberg_bucket_table(
    i: int,
    bad_stripe: int = 13,
    misroute_stripe: int = 9,
    count_lie_stripe: int = 17,
) -> bytes:
    """``3 + i%3`` manifests x 2 parquet data files, manifest m
    claiming buckets [2m, 2m+1] (4-byte LE summaries). The probe key
    is a real member of the target file, so n_found == 1 by
    construction. Every ``misroute_stripe``-th id swaps one key of
    the TARGET file for a key of a different bucket (only a decoded
    file can reveal it); every ``count_lie_stripe``-th id inflates
    the target file's record_count; every ``bad_stripe``-th id
    truncates the manifest list."""
    nm, tm, te = _bucket_params(i)
    codec = ("null", "deflate")[i % 2]
    sync = bytes((i * 37 + 11 * k) % 256 for k in range(16))
    members: list[tuple[str, bytes]] = []
    mlist = []
    for m in range(nm):
        entries = []
        for e in range(2):
            bucket = 2 * m + e
            keys = _bucket_keys(i, m, e, bucket)
            if i % misroute_stripe == 0 and m == tm and e == te:
                other = keys[-1] + 1
                while iceberg_bucket(other) == bucket:
                    other += 1
                keys = keys[:-1] + [other]
            blob = _mor_parquet({"k": keys})
            fpath = f"data/b{bucket}-{m}-{e}.parquet"
            members.append((fpath, blob))
            rc = len(keys)
            if i % count_lie_stripe == 0 and m == tm and e == te:
                rc += 1
            entries.append(
                {
                    "status": 1,
                    "snapshot_id": None,
                    "data_file": {
                        "content": 0,
                        "file_path": fpath,
                        "file_format": "PARQUET",
                        "partition_bucket": bucket,
                        "record_count": rc,
                        "file_size_in_bytes": len(blob),
                    },
                }
            )
        blob = make_avro_container(
            MANIFEST_SCHEMA_B, entries, codec=codec, sync=sync
        )
        members.append((f"manifest-{m}.avro", blob))
        mlist.append(
            {
                "manifest_path": f"manifest-{m}.avro",
                "manifest_length": len(blob),
                "partition_spec_id": 0,
                "content": 0,
                "partitions": [
                    {
                        "contains_null": False,
                        "lower_bound": struct.pack("<i", 2 * m),
                        "upper_bound": struct.pack("<i", 2 * m + 1),
                    }
                ],
            }
        )
    mlist_blob = make_avro_container(
        MLIST_SCHEMA_B, mlist, codec=codec, sync=sync
    )
    if i % bad_stripe == 0:
        mlist_blob = mlist_blob[:-3]
    members.append(("snap-current.avro", mlist_blob))
    meta = {
        "format-version": 2,
        "table-uuid": f"bkt-{i}",
        "current-snapshot-id": 7000 + i,
        "snapshots": [
            {
                "snapshot-id": 7000 + i,
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


def _bucket_probe(i: int) -> int:
    """The probe key: a REAL member of the target file (its
    ``i % rows``-th key), so presence is by construction."""
    nm, tm, te = _bucket_params(i)
    keys = _bucket_keys(i, tm, te, 2 * tm + te)
    return keys[i % len(keys)]


def synthesize_iceberg_bucket_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of bucket-partitioned Iceberg chains."""
    return synthesize_blobs(docs, _make_iceberg_bucket_table, blob_meta("iceberg"))


def iceberg_bucket_stats(df: DataFrame) -> DataFrame:
    """Bucket-pruned Iceberg point lookups over MEDIA_SCHEMA blobs."""
    return blob_stats(
        df,
        lambda b, mid: read_iceberg_bucket_prune(b, _bucket_probe(mid)),
        ICEBERG_BUCKET_SCHEMA,
        "iceberg",
        by_id=True,
    )


# --------------------------------------------------------------------------
# SCHEMA EVOLUTION BY FIELD-ID — the feature Iceberg's format exists
# for (spec "Schemas and Data Types" / "Column Projection"): table
# columns are identified by FIELD ID, never by name. The current
# schema (selected by metadata.json current-schema-id) may have
# renamed a column, dropped one, or added one since a data file was
# written; reading an old parquet file resolves each reader field by
# the field_id stored in the parquet SchemaElement (field 9):
#
# - a RENAME is free: old files carry the old NAME but the same id;
# - a DROPPED column's data is simply not projected;
# - an ADDED optional column is null for every pre-evolution file;
# - a reader field whose id is MISSING from a file (required) or
#   appears TWICE refuses — resolving by name instead would silently
#   read the wrong bytes, which the fixture's decoy stripe proves.
# --------------------------------------------------------------------------

ICEBERG_EVO_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_files", LongType()),
        StructField("n_files_old", LongType()),
        StructField("n_files_new", LongType()),
        StructField("total_rows", LongType()),
        StructField("key_sum", LongType()),
        StructField("score_sum", LongType()),
        StructField("score_nulls", LongType()),
    ]
)


def read_iceberg_evolved(data: bytes) -> dict | None:
    """Tar table -> current-schema scan with field-id column
    resolution (section doc); None on any chain violation."""
    from gmall_flink_210726_spark.operators.parquetmeta import (
        parquet_leaf_fields,
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
    sid = meta.get("current-schema-id")
    schemas = meta.get("schemas")
    if not isinstance(sid, int) or not isinstance(schemas, list):
        return None
    cur = next(
        (
            s
            for s in schemas
            if isinstance(s, dict) and s.get("schema-id") == sid
        ),
        None,
    )
    if cur is None or not isinstance(cur.get("fields"), list):
        return None
    reader_fields = []  # (id, name, required)
    for f in cur["fields"]:
        if (
            not isinstance(f, dict)
            or not isinstance(f.get("id"), int)
            or f.get("type") != "long"
        ):
            return None
        reader_fields.append(
            (f["id"], f.get("name", ""), bool(f.get("required")))
        )
    snap_id = meta.get("current-snapshot-id")
    snaps = meta.get("snapshots")
    if not isinstance(snap_id, int) or not isinstance(snaps, list):
        return None
    snap = next(
        (
            s
            for s in snaps
            if isinstance(s, dict) and s.get("snapshot-id") == snap_id
        ),
        None,
    )
    if snap is None:
        return None
    mlist_blob = files.get(snap.get("manifest-list"))
    if mlist_blob is None:
        return None
    got = read_avro_container(mlist_blob)
    if got is None:
        return None
    mlist, _, _ = got
    out = {
        "n_files": 0,
        "n_files_old": 0,
        "n_files_new": 0,
        "total_rows": 0,
        "key_sum": 0,
        "score_sum": 0,
        "score_nulls": 0,
    }
    try:
        for mf in mlist:
            blob = files.get(mf["manifest_path"])
            if blob is None or len(blob) != mf["manifest_length"]:
                return None
            g2 = read_avro_container(blob)
            if g2 is None:
                return None
            entries, _, _ = g2
            for ent in entries:
                if ent["status"] == 2:
                    continue  # deleted
                df = ent["data_file"]
                pq_blob = files.get(df["file_path"])
                if pq_blob is None:
                    return None
                if len(pq_blob) != df["file_size_in_bytes"]:
                    return None  # the manifest's size must be true
                rows = df["record_count"]
                leaves = parquet_leaf_fields(pq_blob)
                if leaves is None:
                    return None
                by_id: dict[int, bytes] = {}
                for fid, name in leaves:
                    if fid is None:
                        continue
                    if fid in by_id:
                        return None  # duplicate field id
                    by_id[fid] = name
                out["n_files"] += 1
                has_all = True
                for fid, _name, required in reader_fields:
                    col_name = by_id.get(fid)
                    if col_name is None:
                        if required:
                            return None  # required id missing
                        has_all = False
                        out["score_nulls"] += rows
                        continue
                    col = read_parquet_column_k(
                        pq_blob, name=col_name
                    )
                    if col is None or col["n_values"] != rows:
                        return None
                    if required:
                        out["key_sum"] += col["k_sum"]
                    else:
                        out["score_sum"] += col["k_sum"]
                out["total_rows"] += rows
                if has_all:
                    out["n_files_new"] += 1
                else:
                    out["n_files_old"] += 1
    except (TypeError, KeyError, ValueError):
        return None
    return out


def _evo_parquet(cols: list[tuple[str, int, list[int]]]) -> bytes:
    """Real pyarrow parquet with explicit field ids:
    cols = [(name, field_id, values)]."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    fields = [
        pa.field(
            name,
            pa.int64(),
            metadata={b"PARQUET:field_id": str(fid).encode()},
        )
        for name, fid, _ in cols
    ]
    table = pa.table(
        {name: vals for name, _, vals in cols},
        schema=pa.schema(fields),
    )
    buf = io.BytesIO()
    pq.write_table(
        table,
        buf,
        write_statistics=False,
        use_dictionary=False,
    )
    return buf.getvalue()


def _evo_old_rows(i: int, f: int) -> int:
    return 10 + (i + 3 * f) % 40


def _evo_new_rows(i: int, g: int) -> int:
    return 10 + (i + 5 * g) % 40


def _evo_k(i: int, f: int, r: int) -> int:
    return (i * 7 + f * 13 + 3 * r) % 1000


def _evo_score(i: int, g: int, r: int) -> int:
    return (i * 11 + g * 17 + 5 * r) % 500


def _make_iceberg_evo_table(i: int) -> bytes:
    """Current schema 1 = {key: id 1 (RENAMED from k), score: id 3
    (ADDED, optional)}; schema 0's v (id 2) was DROPPED. Old files
    carry (k id1, v id2), new files (key id1, score id3). Stripes:
    every 7th id's first old file is the NAME DECOY — its true id-1
    column is named 'legacy' and a column NAMED 'key' carries id 9
    with values+1, so a name-resolving reader returns a wrong sum
    the oracle catches; every 13th id's first old file mislabels its
    k column as id 5 (required id 1 missing -> refuse); every
    19th-miss-13th id's first new file carries TWO id-1 columns
    (refuse)."""
    n_old = 1 + i % 2
    n_new = 1 + (i + 1) % 3
    members: list[tuple[str, bytes]] = []
    entries = []
    for f in range(n_old):
        rows = _evo_old_rows(i, f)
        kv = [_evo_k(i, f, r) for r in range(rows)]
        vv = [r for r in range(rows)]
        if f == 0 and i % 13 == 0:
            cols = [("k", 5, kv), ("v", 2, vv)]
        elif f == 0 and i % 7 == 0:
            cols = [
                ("legacy", 1, kv),
                ("key", 9, [v + 1 for v in kv]),
                ("v", 2, vv),
            ]
        else:
            cols = [("k", 1, kv), ("v", 2, vv)]
        blob = _evo_parquet(cols)
        path = f"data/old-{f}.parquet"
        members.append((path, blob))
        entries.append((path, rows, len(blob)))
    for g in range(n_new):
        rows = _evo_new_rows(i, g)
        kv = [_evo_k(i, 100 + g, r) for r in range(rows)]
        sv = [_evo_score(i, g, r) for r in range(rows)]
        if g == 0 and i % 19 == 0 and i % 13 != 0:
            cols = [("key", 1, kv), ("dup", 1, sv)]
        else:
            cols = [("key", 1, kv), ("score", 3, sv)]
        blob = _evo_parquet(cols)
        path = f"data/new-{g}.parquet"
        members.append((path, blob))
        entries.append((path, rows, len(blob)))
    from gmall_flink_210726_spark.operators.iceberg import (
        MANIFEST_SCHEMA,
        MLIST_SCHEMA,
    )

    manifest = make_avro_container(
        MANIFEST_SCHEMA,
        [
            {
                "status": 1,
                "snapshot_id": 1000 + i,
                "data_file": {
                    "file_path": p,
                    "file_format": "PARQUET",
                    "record_count": rows,
                    "file_size_in_bytes": size,
                },
            }
            for p, rows, size in entries
        ],
    )
    members.append(("meta/m0.avro", manifest))
    mlist = make_avro_container(
        MLIST_SCHEMA,
        [
            {
                "manifest_path": "meta/m0.avro",
                "manifest_length": len(manifest),
                "partition_spec_id": 0,
                "added_files_count": len(entries),
                "existing_files_count": 0,
                "deleted_files_count": 0,
            }
        ],
    )
    members.append(("meta/snap-1.avro", mlist))
    meta = {
        "format-version": 2,
        "table-uuid": f"tbl-{i}",
        "current-schema-id": 1,
        "schemas": [
            {
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "required": True,
                     "type": "long"},
                    {"id": 2, "name": "v", "required": True,
                     "type": "long"},
                ],
            },
            {
                "schema-id": 1,
                "fields": [
                    {"id": 1, "name": "key", "required": True,
                     "type": "long"},
                    {"id": 3, "name": "score", "required": False,
                     "type": "long"},
                ],
            },
        ],
        "current-snapshot-id": 900 + i,
        "snapshots": [
            {
                "snapshot-id": 900 + i,
                "manifest-list": "meta/snap-1.avro",
            }
        ],
    }
    members.append(
        ("v2.metadata.json", json.dumps(meta).encode("utf-8"))
    )
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def iceberg_evolution_stats(df: DataFrame) -> DataFrame:
    """Field-id schema-evolution scan over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_iceberg_evolved, ICEBERG_EVO_SCHEMA, "iceberg")


def synthesize_iceberg_evo_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of schema-evolved Iceberg tables."""
    return synthesize_blobs(docs, _make_iceberg_evo_table, blob_meta("iceberg"))


# --------------------------------------------------------------------------
# Format-v2 POSITION DELETE files (iceberg spec 'Position Delete
# Files'): parquet delete files of (file_path, pos) rows — the
# merge-on-read mechanism real v2 tables use (the v3 Puffin DV path
# is operators/puffin.py read_iceberg_dv_scan)
# --------------------------------------------------------------------------


def read_iceberg_pos_deletes(data: bytes) -> dict | None:
    """Tar table -> v2 merge-on-read scan: data manifests (content 0)
    and delete manifests (content 1) resolved from the manifest
    list; each delete file is a parquet of (file_path, pos) rows —
    file_path dictionary-decoded, pos hand-decoded — which must be
    sorted by (file_path, pos) with unique in-range positions
    referencing real data files (the spec's sort requirement is what
    makes them streamable at scale). Live rows = data rows minus
    deleted positions; k_sum recomputed over survivors only. None on
    any violation."""
    from gmall_flink_210726_spark.operators.avro import (
        read_avro_container,
    )
    from gmall_flink_210726_spark.operators.parquetmeta import (
        read_parquet_column_k,
        read_parquet_column_s_dict,
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
    snap_id = meta.get("current-snapshot-id")
    snaps = meta.get("snapshots")
    if not isinstance(snap_id, int) or not isinstance(snaps, list):
        return None
    snap = next(
        (
            s
            for s in snaps
            if isinstance(s, dict) and s.get("snapshot-id") == snap_id
        ),
        None,
    )
    if snap is None:
        return None
    mlist_blob = files.get(snap.get("manifest-list"))
    if mlist_blob is None:
        return None
    got = read_avro_container(mlist_blob)
    if got is None:
        return None
    mlist, _, _ = got
    data_files = {}  # path -> (rows, values)
    delete_files = []  # (path, rows claimed, blob)
    try:
        for mf in mlist:
            blob = files.get(mf["manifest_path"])
            if blob is None or len(blob) != mf["manifest_length"]:
                return None
            content = mf.get("content", 0)
            if content not in (0, 1):
                return None
            g2 = read_avro_container(blob)
            if g2 is None:
                return None
            entries, _, _ = g2
            for ent in entries:
                if ent["status"] == 2:
                    continue
                df = ent["data_file"]
                blob2 = files.get(df["file_path"])
                if (
                    blob2 is None
                    or len(blob2) != df["file_size_in_bytes"]
                ):
                    return None
                if content == 0:
                    col = read_parquet_column_k(
                        blob2, collect_values=True
                    )
                    if (
                        col is None
                        or col["n_values"] != df["record_count"]
                    ):
                        return None
                    if df["file_path"] in data_files:
                        return None
                    data_files[df["file_path"]] = col["values"]
                else:
                    delete_files.append(
                        (df["file_path"], df["record_count"], blob2)
                    )
        deleted: dict[str, set[int]] = {p: set() for p in data_files}
        for _path, claimed, blob2 in delete_files:
            paths = read_parquet_column_s_dict(
                blob2, name=b"file_path", collect_values=True
            )
            poss = read_parquet_column_k(
                blob2, collect_values=True, name=b"pos"
            )
            if (
                paths is None
                or poss is None
                or paths["n_nulls"]
                or paths["n_values"] != claimed
                or poss["n_values"] != claimed
            ):
                return None
            rows = list(
                zip(
                    (p.decode("utf-8") for p in paths["values"]),
                    poss["values"],
                )
            )
            if rows != sorted(set(rows)):
                return None  # must be sorted by (path, pos), unique
            for p, pos in rows:
                vals = data_files.get(p)
                if vals is None:
                    return None  # delete for an unknown data file
                if not 0 <= pos < len(vals):
                    return None  # position out of range
                if pos in deleted[p]:
                    return None  # duplicate across delete files
                deleted[p].add(pos)
    except (TypeError, KeyError, ValueError, UnicodeDecodeError):
        return None
    total = sum(len(v) for v in data_files.values())
    ndel = sum(len(s) for s in deleted.values())
    live_sum = sum(
        v
        for p, vals in data_files.items()
        for r, v in enumerate(vals)
        if r not in deleted[p]
    )
    return {
        "n_data_files": len(data_files),
        "n_delete_files": len(delete_files),
        "total_rows": total,
        "deleted_rows": ndel,
        "live_rows": total - ndel,
        "live_k_sum": live_sum,
    }


POSDEL_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_data_files", LongType()),
        StructField("n_delete_files", LongType()),
        StructField("total_rows", LongType()),
        StructField("deleted_rows", LongType()),
        StructField("live_rows", LongType()),
        StructField("live_k_sum", LongType()),
    ]
)


def iceberg_pos_delete_stats(df: DataFrame) -> DataFrame:
    """v2 position-delete merge-on-read scan over MEDIA_SCHEMA."""
    return blob_stats(df, read_iceberg_pos_deletes, POSDEL_SCHEMA, "iceberg")


def _pd_n(i: int, f: int) -> int:
    return 10 + (i + 3 * f) % 30


def _pd_k(i: int, f: int, r: int) -> int:
    return (7 * i + 13 * f + 3 * r) % 1000


def _pd_deleted(i: int, f: int, r: int) -> bool:
    return (r + i + f) % 5 == 0


def _make_iceberg_posdel_table(i: int) -> bytes:
    """``2 + i % 3`` data files, ``1 + i % 2`` position-delete files
    (delete file d covers data files with f % nd == d), rows sorted
    by (file_path, pos) as the spec requires. Lies: every 13th id's
    last delete row positions PAST the data file's end (refused);
    every 17th-miss id's last delete file claims record_count+1
    (refused); every 19th-miss id swaps its last two delete rows
    (sort violation - refused)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    from gmall_flink_210726_spark.operators.avro import (
        make_avro_container,
    )
    from gmall_flink_210726_spark.operators.iceberg import (
        MANIFEST_SCHEMA,
        MLIST_SCHEMA,
    )

    nf = 2 + i % 3
    nd = 1 + i % 2
    members: list[tuple[str, bytes]] = []
    data_entries = []
    for f in range(nf):
        n = _pd_n(i, f)
        buf = io.BytesIO()
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(
                        [_pd_k(i, f, r) for r in range(n)],
                        pa.int64(),
                    )
                }
            ),
            buf,
            write_statistics=False,
            use_dictionary=False,
        )
        blob = buf.getvalue()
        path = f"data/d{f}.parquet"
        members.append((path, blob))
        data_entries.append((path, n, len(blob)))
    delete_entries = []
    for d in range(nd):
        rows = []
        for f in range(nf):
            if f % nd != d:
                continue
            n = _pd_n(i, f)
            rows.extend(
                (f"data/d{f}.parquet", r)
                for r in range(n)
                if _pd_deleted(i, f, r)
            )
        rows.sort()
        if i % 13 == 0 and d == nd - 1 and rows:
            p, _r = rows[-1]
            f_last = int(p.split("d")[-1].split(".")[0])
            rows[-1] = (p, _pd_n(i, f_last))  # one past the end
        if (
            i % 19 == 0
            and i % 13 != 0
            and i % 17 != 0
            and d == nd - 1
            and len(rows) >= 2
        ):
            rows[-1], rows[-2] = rows[-2], rows[-1]  # sort violation
        buf = io.BytesIO()
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array([p for p, _ in rows]),
                    "pos": pa.array(
                        [r for _, r in rows], pa.int64()
                    ),
                }
            ),
            buf,
            write_statistics=False,
            use_dictionary=["file_path"],
        )
        blob = buf.getvalue()
        path = f"deletes/del{d}.parquet"
        members.append((path, blob))
        claimed = len(rows)
        if i % 17 == 0 and i % 13 != 0 and d == nd - 1:
            claimed += 1
        delete_entries.append((path, claimed, len(blob)))

    def manifest(entries, tag):
        blob = make_avro_container(
            MANIFEST_SCHEMA,
            [
                {
                    "status": 1,
                    "snapshot_id": 900 + i,
                    "data_file": {
                        "file_path": p,
                        "file_format": "PARQUET",
                        "record_count": n,
                        "file_size_in_bytes": size,
                    },
                }
                for p, n, size in entries
            ],
        )
        members.append((f"meta/m-{tag}.avro", blob))
        return blob

    m_data = manifest(data_entries, "data")
    m_del = manifest(delete_entries, "del")
    mlist_schema = json.loads(json.dumps(MLIST_SCHEMA))
    mlist_schema["fields"] = mlist_schema["fields"] + [
        {"name": "content", "type": "int"}
    ]
    mlist = make_avro_container(
        mlist_schema,
        [
            {
                "manifest_path": "meta/m-data.avro",
                "manifest_length": len(m_data),
                "partition_spec_id": 0,
                "added_files_count": len(data_entries),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "content": 0,
            },
            {
                "manifest_path": "meta/m-del.avro",
                "manifest_length": len(m_del),
                "partition_spec_id": 0,
                "added_files_count": len(delete_entries),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "content": 1,
            },
        ],
    )
    members.append(("meta/snap-1.avro", mlist))
    meta = {
        "format-version": 2,
        "table-uuid": f"tbl-posdel-{i}",
        "current-snapshot-id": 900 + i,
        "snapshots": [
            {"snapshot-id": 900 + i, "manifest-list": "meta/snap-1.avro"}
        ],
    }
    members.append(
        ("v2.metadata.json", json.dumps(meta).encode("utf-8"))
    )
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_iceberg_posdel_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of v2 position-delete Iceberg tables."""
    return synthesize_blobs(docs, _make_iceberg_posdel_table, blob_meta("iceberg"))


# --------------------------------------------------------------------------
# Iceberg v2 EQUALITY delete files (spec "Equality Delete Files").
# An equality delete file holds rows of just the equality field values
# (identified by the entry's equality_ids); a data row is deleted when
# its values for those fields equal any delete row AND the data file's
# sequence number is STRICTLY LOWER than the delete file's — a delete
# can never hit rows committed with it or after it.  That strict
# inequality is the load-bearing semantic (position deletes use <=):
# the fixture plants same-sequence key collisions that must survive.
# Columns resolve by FIELD ID on both sides (parquet_leaf_fields),
# never by name — the same rule the evolution walk (L254) pins.
# --------------------------------------------------------------------------


def read_iceberg_eq_deletes(data: bytes) -> dict | None:
    """Tar table -> v2 equality-delete merge-on-read scan. Manifest
    list entries carry content (0 data / 1 deletes) and the v2
    sequence_number every entry in that manifest inherits; delete
    entries' data_file structs must declare content=2 with non-empty
    integer equality_ids. Delete-file key columns and data-file
    columns resolve by parquet field id; a data row dies when its
    key tuple appears in any delete file whose sequence number is
    strictly greater than the data file's. None on any violation:
    manifest_length or file size or record_count lies, an equality
    id missing from a data or delete file, duplicate data paths,
    malformed sequence numbers."""
    from gmall_flink_210726_spark.operators.avro import (
        read_avro_container,
    )
    from gmall_flink_210726_spark.operators.parquetmeta import (
        parquet_leaf_fields,
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
    snap_id = meta.get("current-snapshot-id")
    snaps = meta.get("snapshots")
    if not isinstance(snap_id, int) or not isinstance(snaps, list):
        return None
    snap = next(
        (
            s
            for s in snaps
            if isinstance(s, dict) and s.get("snapshot-id") == snap_id
        ),
        None,
    )
    if snap is None:
        return None
    mlist_blob = files.get(snap.get("manifest-list"))
    if mlist_blob is None:
        return None
    got = read_avro_container(mlist_blob)
    if got is None:
        return None
    mlist, _, _ = got

    def _leaf_map(blob: bytes) -> dict[int, bytes] | None:
        leaves = parquet_leaf_fields(blob)
        if leaves is None:
            return None
        out: dict[int, bytes] = {}
        for fid, lname in leaves:
            if fid is None:
                continue
            if fid in out:
                return None  # duplicate field id
            out[fid] = lname
        return out

    def _columns_by_ids(
        blob: bytes, ids: list[int], claimed: int
    ) -> list[tuple] | None:
        fmap = _leaf_map(blob)
        if fmap is None:
            return None
        cols = []
        for fid in ids:
            lname = fmap.get(fid)
            if lname is None:
                return None  # equality id missing from the file
            col = read_parquet_column_k(
                blob, collect_values=True, name=lname
            )
            if col is None or col["n_values"] != claimed:
                return None
            cols.append(col["values"])
        return list(zip(*cols)) if cols else None

    # (seq, path, rows-claimed, blob): data then deletes
    data_entries: list[tuple[int, str, int, bytes]] = []
    del_entries: list[tuple[int, list[int], int, bytes]] = []
    try:
        for mf in mlist:
            blob = files.get(mf["manifest_path"])
            if blob is None or len(blob) != mf["manifest_length"]:
                return None
            content = mf.get("content", 0)
            seq = mf.get("sequence_number")
            if content not in (0, 1) or not isinstance(seq, int):
                return None
            if seq < 1:
                return None
            g2 = read_avro_container(blob)
            if g2 is None:
                return None
            entries, _, _ = g2
            for ent in entries:
                if ent["status"] == 2:
                    continue
                df = ent["data_file"]
                blob2 = files.get(df["file_path"])
                if (
                    blob2 is None
                    or len(blob2) != df["file_size_in_bytes"]
                ):
                    return None
                if content == 0:
                    data_entries.append(
                        (
                            seq,
                            df["file_path"],
                            df["record_count"],
                            blob2,
                        )
                    )
                else:
                    if df.get("content") != 2:
                        return None  # not an equality delete file
                    eq_ids = df.get("equality_ids")
                    if (
                        not isinstance(eq_ids, list)
                        or not eq_ids
                        or not all(
                            isinstance(x, int) for x in eq_ids
                        )
                    ):
                        return None
                    del_entries.append(
                        (seq, eq_ids, df["record_count"], blob2)
                    )
        # delete files -> (seq, frozen key set)
        delete_sets: list[tuple[int, set]] = []
        for seq, eq_ids, claimed, blob2 in del_entries:
            keys = _columns_by_ids(blob2, eq_ids, claimed)
            if keys is None:
                return None
            delete_sets.append((seq, set(keys)))
        eq_union: list[int] = sorted(
            {x for _s, ids_, _c, _b in del_entries for x in ids_}
        )
        seen_paths: set[str] = set()
        total = ndel = live_sum = 0
        for seq, path, claimed, blob2 in data_entries:
            if path in seen_paths:
                return None
            seen_paths.add(path)
            vals = read_parquet_column_k(
                blob2, collect_values=True, name=b"v"
            )
            if vals is None or vals["n_values"] != claimed:
                return None
            if eq_union:
                keys = _columns_by_ids(blob2, eq_union, claimed)
                if keys is None:
                    return None
            else:
                keys = [()] * claimed
            # per delete file, project the union tuple down to the
            # file's own id list (ids resolve positionally in eq_union)
            proj = [
                tuple(eq_union.index(x) for x in ids_)
                for _s, ids_, _c, _b in del_entries
            ]
            for key, v in zip(keys, vals["values"]):
                total += 1
                dead = any(
                    dseq > seq
                    and tuple(key[j] for j in pj) in dset
                    for (dseq, dset), pj in zip(delete_sets, proj)
                )
                if dead:
                    ndel += 1
                else:
                    live_sum += v
    except (TypeError, KeyError, ValueError, UnicodeDecodeError):
        return None
    return {
        "n_data_files": len(data_entries),
        "n_delete_files": len(del_entries),
        "total_rows": total,
        "deleted_rows": ndel,
        "live_rows": total - ndel,
        "live_v_sum": live_sum,
    }


EQDEL_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_data_files", LongType()),
        StructField("n_delete_files", LongType()),
        StructField("total_rows", LongType()),
        StructField("deleted_rows", LongType()),
        StructField("live_rows", LongType()),
        StructField("live_v_sum", LongType()),
    ]
)


def iceberg_eq_delete_stats(df: DataFrame) -> DataFrame:
    """v2 equality-delete merge-on-read scan over MEDIA_SCHEMA."""
    return blob_stats(df, read_iceberg_eq_deletes, EQDEL_SCHEMA, "iceberg")


def _eq_n(i: int, f: int) -> int:
    return 12 + (i + 5 * f) % 20


def _eq_v(i: int, f: int, r: int) -> int:
    return (7 * i + 13 * f + 3 * r) % 1000


def _eq_del_keys(i: int, d: int) -> list[int]:
    return [r for r in range(40) if (r + i + 3 * d) % 4 == 0]


def _make_iceberg_eqdel_table(i: int) -> bytes:
    """``2 + i % 3`` data files (file f at sequence ``2f+1``),
    ``1 + i % 2`` equality-delete files (delete d at sequence
    ``2d+2`` with keys ``(r + i + 3d) % 4 == 0``); keys are the row
    index, so delete d can only hit data files ``f <= d`` (strictly
    lower sequence) — same-sequence and later collisions must
    survive. Lies: every 13th id's last delete file claims
    equality_ids [99] (no such field id — refused); every 17th-miss
    id's last delete entry overstates record_count (refused); every
    19th-miss id lies about the delete manifest's manifest_length
    (refused)."""
    from gmall_flink_210726_spark.operators.avro import (
        make_avro_container,
    )
    from gmall_flink_210726_spark.operators.iceberg import (
        MANIFEST_SCHEMA,
        MLIST_SCHEMA,
    )

    nf = 2 + i % 3
    ne = 1 + i % 2
    members: list[tuple[str, bytes]] = []
    data_entries = []
    for f in range(nf):
        n = _eq_n(i, f)
        blob = _evo_parquet(
            [
                ("k", 1, list(range(n))),
                ("v", 2, [_eq_v(i, f, r) for r in range(n)]),
            ]
        )
        path = f"data/d{f}.parquet"
        members.append((path, blob))
        data_entries.append((f, path, n, len(blob)))
    del_entries = []
    for d in range(ne):
        keys = _eq_del_keys(i, d)
        blob = _evo_parquet([("k", 1, keys)])
        path = f"deletes/eq{d}.parquet"
        members.append((path, blob))
        eq_ids = [1]
        if i % 13 == 0 and d == ne - 1:
            eq_ids = [99]
        claimed = len(keys)
        if i % 17 == 0 and i % 13 != 0 and d == ne - 1:
            claimed += 1
        del_entries.append((d, path, eq_ids, claimed, len(blob)))

    mschema = json.loads(json.dumps(MANIFEST_SCHEMA))
    for fld in mschema["fields"]:
        if fld["name"] == "data_file":
            fld["type"]["fields"] = fld["type"]["fields"] + [
                {"name": "content", "type": "int"},
                {
                    "name": "equality_ids",
                    "type": {"type": "array", "items": "int"},
                },
            ]
    del_manifests = []
    for d, p, eq_ids, claimed, size in del_entries:
        blob = make_avro_container(
            mschema,
            [
                {
                    "status": 1,
                    "snapshot_id": 1700 + i,
                    "data_file": {
                        "file_path": p,
                        "file_format": "PARQUET",
                        "record_count": claimed,
                        "file_size_in_bytes": size,
                        "content": 2,
                        "equality_ids": eq_ids,
                    },
                }
            ],
        )
        members.append((f"meta/m-del{d}.avro", blob))
        del_manifests.append((d, blob))
    mlist_schema = json.loads(json.dumps(MLIST_SCHEMA))
    mlist_schema["fields"] = mlist_schema["fields"] + [
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
    ]
    # one data manifest per file so each carries its own sequence 2f+1
    rows = []
    data_manifests = []
    for f, p, n, size in data_entries:
        blob = make_avro_container(
            MANIFEST_SCHEMA,
            [
                {
                    "status": 1,
                    "snapshot_id": 1700 + i,
                    "data_file": {
                        "file_path": p,
                        "file_format": "PARQUET",
                        "record_count": n,
                        "file_size_in_bytes": size,
                    },
                }
            ],
        )
        name = f"meta/m-data{f}.avro"
        data_manifests.append((name, blob))
        rows.append(
            {
                "manifest_path": name,
                "manifest_length": len(blob),
                "partition_spec_id": 0,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "content": 0,
                "sequence_number": 2 * f + 1,
            }
        )
    members.extend(data_manifests)
    for d, blob in del_manifests:
        mlen = len(blob)
        if i % 19 == 0 and i % 13 != 0 and i % 17 != 0 and d == ne - 1:
            mlen += 1
        rows.append(
            {
                "manifest_path": f"meta/m-del{d}.avro",
                "manifest_length": mlen,
                "partition_spec_id": 0,
                "added_files_count": 1,
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "content": 1,
                "sequence_number": 2 * d + 2,
            }
        )
    mlist = make_avro_container(mlist_schema, rows)
    members.append(("meta/snap-1.avro", mlist))
    meta = {
        "format-version": 2,
        "table-uuid": f"tbl-eqdel-{i}",
        "current-snapshot-id": 1700 + i,
        "snapshots": [
            {
                "snapshot-id": 1700 + i,
                "manifest-list": "meta/snap-1.avro",
            }
        ],
    }
    members.append(
        ("v2.metadata.json", json.dumps(meta).encode("utf-8"))
    )
    parts = []
    for name, payload in members:
        pad = (-len(payload)) % _BLOCK
        parts.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_iceberg_eqdel_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of v2 equality-delete Iceberg tables."""
    return synthesize_blobs(docs, _make_iceberg_eqdel_table, blob_meta("iceberg"))
