"""Puffin container walk — Iceberg's statistics-file format (the
public Puffin spec, iceberg.apache.org/puffin-spec): the sidecar a
planner reads for table-level NDV estimates without touching data.

Layout (all from the spec):

    Magic Blob-1 ... Blob-N Footer
    Footer = Magic FooterPayload FooterPayloadSize(4 LE) Flags(4)
             Magic
    Magic  = 0x50 0x46 0x41 0x31 ("PFA1")

- Flags bit 0 of byte 0: the footer payload is LZ4-frame-compressed
  (decoded by the repo's hand LZ4 frame walk);
- FooterPayload: UTF-8 JSON ``{"blobs": [...], "properties": {...}}``
  with per-blob metadata: type, fields (column ids), snapshot-id,
  sequence-number, offset, length, optional compression-codec
  ("lz4" frame / "zstd" — both hand decoders), properties;
- blobs live between the leading magic and the footer; offsets must
  be ascending and ranges must stay inside the blob region without
  overlap (a lying offset/length silently reads another blob's
  bytes — refuse).

Blob payloads: the spec's standard sketch type
(apache-datasketches-theta-v1) has a library-defined wire format not
reproducible in-container (the brotli-class descope); the fixture
uses a repo-defined type ``deterministic-distinct-v1`` — Puffin is
explicitly an open container for arbitrary blob types — whose payload
is the SORTED distinct values as big-endian int64s, so the claimed
properties.ndv is re-provable exactly: it must equal the payload's
(strictly-ascending) value count AND the actual distinct count of the
accompanying data file's column, decoded by the hand parquet walk.
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.tar import _BLOCK, _make_header
from gmall_flink_210726_spark.operators.wds import _iter_tar_members

_MAGIC = b"PFA1"


def parse_puffin(data: bytes) -> dict | None:
    """Puffin bytes -> {'blobs': [(meta, payload_bytes)],
    'footer_compressed': bool, 'properties': dict}; None on any
    grammar violation (module doc)."""
    if len(data) < 4 + 4 + 4 + 4 + 4 or data[:4] != _MAGIC:
        return None
    if data[-4:] != _MAGIC:
        return None
    (flags,) = struct.unpack_from("<I", data, len(data) - 8)
    if flags & ~1:
        return None  # reserved flag bits must be zero
    (psize,) = struct.unpack_from("<I", data, len(data) - 12)
    payload_end = len(data) - 12
    payload_start = payload_end - psize
    footer_magic_at = payload_start - 4
    if footer_magic_at < 4:
        return None
    if data[footer_magic_at : footer_magic_at + 4] != _MAGIC:
        return None
    payload = data[payload_start:payload_end]
    compressed = bool(flags & 1)
    if compressed:
        from gmall_flink_210726_spark.operators.lz4 import (
            lz4_frame_decompress,
        )

        try:
            payload = lz4_frame_decompress(payload)
        except ValueError:
            return None
    try:
        meta = json.loads(payload.decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return None
    if not isinstance(meta, dict) or not isinstance(
        meta.get("blobs"), list
    ):
        return None
    spans = []
    for bm in meta["blobs"]:
        if not isinstance(bm, dict):
            return None
        off = bm.get("offset")
        ln = bm.get("length")
        if not isinstance(off, int) or not isinstance(ln, int):
            return None
        spans.append((off, ln))
    # The spec mandates in-region, non-overlapping blobs but does NOT
    # require footer metadata order to match physical order — check
    # the tiling on an offset-sorted view, keep footer order below.
    prev_end = 4  # blob region starts after the leading magic
    for off, ln in sorted(spans):
        if off < prev_end or ln <= 0 or off + ln > footer_magic_at:
            return None  # non-overlapping, in-region
        prev_end = off + ln
    blobs = []
    for bm in meta["blobs"]:
        off, ln = bm["offset"], bm["length"]
        raw = data[off : off + ln]
        codec = bm.get("compression-codec")
        if codec == "lz4":
            from gmall_flink_210726_spark.operators.lz4 import (
                lz4_frame_decompress,
            )

            try:
                raw = lz4_frame_decompress(raw)
            except ValueError:
                return None
        elif codec == "zstd":
            from gmall_flink_210726_spark.operators.zstd import (
                zstd_decompress,
            )

            try:
                raw = zstd_decompress(raw)
            except ValueError:
                return None
        elif codec is not None:
            return None  # unknown codec: never guess
        blobs.append((bm, raw))
    return {
        "blobs": blobs,
        "footer_compressed": compressed,
        "properties": meta.get("properties", {}),
    }


PUFFIN_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_blobs", LongType()),
        StructField("footer_compressed", LongType()),
        StructField("blob_codec", StringType()),
        StructField("ndv", LongType()),
        StructField("n_rows", LongType()),
    ]
)


def read_puffin_ndv(data: bytes) -> dict | None:
    """Tar(stats.puffin, data.parquet) -> the NDV trust chain: the
    blob's claimed properties.ndv must equal the payload's strictly
    ascending distinct-value count AND the actual distinct count of
    the data file's k column."""
    from gmall_flink_210726_spark.operators.parquetmeta import (
        read_parquet_column_k,
    )

    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    puf = files.get("stats.puffin")
    pq_blob = files.get("data.parquet")
    if puf is None or pq_blob is None:
        return None
    parsed = parse_puffin(puf)
    if parsed is None or len(parsed["blobs"]) != 1:
        return None
    bm, payload = parsed["blobs"][0]
    if bm.get("type") != "deterministic-distinct-v1":
        return None
    props = bm.get("properties")
    if not isinstance(props, dict):
        return None
    try:
        ndv = int(props["ndv"])
    except (KeyError, ValueError, TypeError):
        return None
    if len(payload) % 8:
        return None
    vals = [
        struct.unpack_from(">q", payload, o)[0]
        for o in range(0, len(payload), 8)
    ]
    if any(b <= a for a, b in zip(vals, vals[1:])):
        return None  # payload must be strictly ascending (a set)
    if len(vals) != ndv:
        return None  # the claimed ndv vs the sketch's own books
    col = read_parquet_column_k(pq_blob, collect_values=True)
    if col is None:
        return None
    if set(col["values"]) != set(vals):
        return None  # the sketch vs the DATA it claims to describe
    return {
        "n_blobs": 1,
        "footer_compressed": int(parsed["footer_compressed"]),
        "blob_codec": bm.get("compression-codec") or "none",
        "ndv": ndv,
        "n_rows": col["n_values"],
    }


def puffin_ndv_stats(df: DataFrame) -> DataFrame:
    """Puffin NDV trust-chain walk over MEDIA_SCHEMA tar blobs."""
    return blob_stats(df, read_puffin_ndv, PUFFIN_SCHEMA, "puffin")


def _puffin_kvals(i: int) -> list[int]:
    n = 40 + i % 60
    return [(i * 7 + 3 * r) % 97 for r in range(n)]  # dupes by design


def make_puffin(
    blobs: list[tuple[dict, bytes]],
    properties: dict | None = None,
    compress_footer: bool = False,
) -> bytes:
    """Render a Puffin file (fixture writer; reference codecs via
    pyarrow for the compressed paths)."""
    out = bytearray(_MAGIC)
    metas = []
    for bm, payload in blobs:
        raw = payload
        codec = bm.get("compression-codec")
        if codec in ("lz4", "zstd"):
            import pyarrow as pa

            raw = bytes(pa.Codec(codec).compress(payload))
        bm = dict(bm)
        bm["offset"] = len(out)
        bm["length"] = len(raw)
        out += raw
        metas.append(bm)
    payload = json.dumps(
        {"blobs": metas, "properties": properties or {}}
    ).encode("utf-8")
    flags = 0
    if compress_footer:
        import pyarrow as pa

        payload = bytes(pa.Codec("lz4").compress(payload))
        flags |= 1
    out += _MAGIC + payload
    out += struct.pack("<I", len(payload))
    out += struct.pack("<I", flags)
    out += _MAGIC
    return bytes(out)


def _make_puffin_table(i: int) -> bytes:
    """Tar(stats.puffin, data.parquet). Rotations: footer compressed
    on odd ids, blob codec none/lz4/zstd by i%3. Lies: every 13th id
    claims ndv+1 (the payload's own books catch it), every 17th-miss
    id drops the LAST distinct value from the payload but keeps the
    claimed ndv (payload books consistent — only the cross-check
    against the DATA decode catches it), every 19th-miss id inflates
    the blob length by one (range/tiling violation)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    kv = _puffin_kvals(i)
    distinct = sorted(set(kv))
    buf = io.BytesIO()
    pq.write_table(
        pa.table({"k": pa.array(kv, pa.int64())}),
        buf,
        write_statistics=False,
        use_dictionary=False,
    )
    data_pq = buf.getvalue()
    ndv = len(distinct)
    payload_vals = list(distinct)
    if i % 13 == 0:
        ndv += 1
    elif i % 17 == 0:
        payload_vals = payload_vals[:-1]
        ndv -= 1  # books consistent; the DATA cross-check must catch
    payload = b"".join(struct.pack(">q", v) for v in payload_vals)
    codec = (None, "lz4", "zstd")[i % 3]
    bm = {
        "type": "deterministic-distinct-v1",
        "fields": [1],
        "snapshot-id": 900 + i,
        "sequence-number": 1,
        "properties": {"ndv": str(ndv)},
    }
    if codec:
        bm["compression-codec"] = codec
    puf = bytearray(
        make_puffin(
            [(bm, payload)],
            properties={"created-by": "gmall-spark"},
            compress_footer=i % 2 == 1,
        )
    )
    if i % 19 == 0 and i % 13 != 0 and i % 17 != 0:
        # inflate the blob length inside the footer JSON in place is
        # fiddly; rebuild with a lying length instead
        metas = [dict(bm)]
        raw = payload
        if codec:
            import pyarrow as pa2

            raw = bytes(pa2.Codec(codec).compress(payload))
        metas[0]["offset"] = 4
        metas[0]["length"] = len(raw) + (len(puf) - 4)  # overruns
        fp = json.dumps(
            {"blobs": metas, "properties": {}}
        ).encode()
        puf = bytearray(
            _MAGIC + raw + _MAGIC + fp
            + struct.pack("<I", len(fp))
            + struct.pack("<I", 0)
            + _MAGIC
        )
    members = [
        ("stats.puffin", bytes(puf)),
        ("data.parquet", data_pq),
    ]
    parts = []
    for name, pl in members:
        pad = (-len(pl)) % _BLOCK
        parts.append(_make_header(name, len(pl)) + pl + b"\x00" * pad)
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_puffin_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of (stats.puffin, data.parquet) tars."""
    return synthesize_blobs(docs, _make_puffin_table, blob_meta("puffin"))


# --------------------------------------------------------------------------
# Iceberg v3 DELETION VECTORS — the format-v3 merge-on-read design
# (iceberg spec 'Deletion Vectors' + puffin-spec 'deletion-vector-v1'):
# position deletes live as Puffin blobs, one per data file, each a
# framed 64-bit roaring bitmap:
#
#     len:u32 BE  (covers magic + vector)
#     magic D1 D3 39 64  (1681511377 LE — shared with Delta's
#                         RoaringBitmapArray for cross-format compat)
#     vector     (the 'portable' 64-bit roaring serialization,
#                 decoded by operators/roaring.py rbm_array_decode,
#                 whose leading 4 bytes ARE that magic)
#     crc:u32 BE (CRC-32 of magic + vector)
#
# Delete manifests reference the blob by (puffin path,
# content_offset, content_size_in_bytes, referenced_data_file,
# record_count = cardinality); the scan resolves each DV through the
# Puffin footer, demands the manifest's (offset, length) name a REAL
# blob of the right type whose referenced-data-file matches, proves
# the framing (length books, magic, CRC), and applies the positions
# to the hand-decoded parquet rows.
# --------------------------------------------------------------------------

MANIFEST_DV_SCHEMA = {
    "type": "record",
    "name": "delete_manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {
            "name": "delete_file",
            "type": {
                "type": "record",
                "name": "delete_file",
                "fields": [
                    {"name": "content", "type": "int"},  # 2 = DV
                    {"name": "file_path", "type": "string"},
                    {"name": "referenced_data_file", "type": "string"},
                    {"name": "content_offset", "type": "long"},
                    {"name": "content_size_in_bytes", "type": "long"},
                    {"name": "record_count", "type": "long"},
                ],
            },
        },
    ],
}

ICEBERG_DV_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_data_files", LongType()),
        StructField("n_dvs", LongType()),
        StructField("total_rows", LongType()),
        StructField("deleted_rows", LongType()),
        StructField("live_rows", LongType()),
        StructField("live_k_sum", LongType()),
    ]
)


def decode_dv_blob(payload: bytes, cardinality: int) -> list[int] | None:
    """deletion-vector-v1 framing -> sorted positions; None on any
    framing/CRC/cardinality violation."""
    import zlib

    from gmall_flink_210726_spark.operators.roaring import (
        rbm_array_decode,
    )

    if len(payload) < 12:
        return None
    (ln,) = struct.unpack_from(">I", payload, 0)
    if 4 + ln + 4 != len(payload):
        return None  # length must tile magic+vector+crc exactly
    vec = payload[4 : 4 + ln]
    if vec[:4] != b"\xd1\xd3\x39\x64":
        return None  # the shared Delta/Iceberg DV magic
    (crc,) = struct.unpack_from(">I", payload, 4 + ln)
    if zlib.crc32(vec) != crc:
        return None
    try:
        positions = rbm_array_decode(vec)
    except ValueError:
        return None
    if len(positions) != cardinality:
        return None  # the manifest must not lie about cardinality
    return positions


def read_iceberg_dv_scan(data: bytes) -> dict | None:
    """Tar table (metadata.json + Avro manifests + dv.puffin + data
    parquet) -> v3 merge-on-read totals; None on any chain
    violation (section doc)."""
    from gmall_flink_210726_spark.operators.avro import (
        read_avro_container,
    )
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
    if not isinstance(meta, dict) or meta.get("format-version") != 3:
        return None  # DVs are a v3 feature
    data_manifest = files.get(meta.get("data-manifest", ""))
    dv_manifest = files.get(meta.get("delete-manifest", ""))
    if data_manifest is None or dv_manifest is None:
        return None
    got = read_avro_container(data_manifest)
    if got is None:
        return None
    data_entries, _, _ = got
    got2 = read_avro_container(dv_manifest)
    if got2 is None:
        return None
    dv_entries, _, _ = got2
    # parse every referenced puffin ONCE; blobs keyed by offset
    puffins: dict[str, dict[tuple[int, int], dict]] = {}
    dvs: dict[str, tuple[list[int], int]] = {}
    for ent in dv_entries:
        try:
            df = ent["delete_file"]
            path = df["file_path"]
            ref = df["referenced_data_file"]
            off = df["content_offset"]
            ln = df["content_size_in_bytes"]
            card = df["record_count"]
        except (TypeError, KeyError):
            return None
        if df.get("content") != 2:
            return None  # 2 = deletion vector
        if path not in puffins:
            blob = files.get(path)
            if blob is None:
                return None
            parsed = parse_puffin(blob)
            if parsed is None:
                return None
            index: dict[tuple[int, int], dict] = {}
            for bm, payload in parsed["blobs"]:
                index[(bm["offset"], bm["length"])] = {
                    "meta": bm,
                    "payload": payload,
                }
            puffins[path] = index
        hit = puffins[path].get((off, ln))
        if hit is None:
            return None  # manifest range must name a REAL blob
        bm = hit["meta"]
        if bm.get("type") != "deletion-vector-v1":
            return None
        props = bm.get("properties", {})
        if props.get("referenced-data-file") != ref:
            return None  # the blob must describe THIS data file
        if str(card) != props.get("cardinality"):
            return None
        positions = decode_dv_blob(hit["payload"], card)
        if positions is None:
            return None
        if ref in dvs:
            return None  # at most one DV per data file (v3 rule)
        dvs[ref] = (positions, card)
    total_rows = deleted = live_rows = live_sum = 0
    n_data = 0
    for ent in data_entries:
        try:
            df = ent["data_file"]
            path = df["file_path"]
            rows = df["record_count"]
        except (TypeError, KeyError):
            return None
        blob = files.get(path)
        if blob is None or len(blob) != df.get("file_size_in_bytes"):
            return None
        col = read_parquet_column_k(blob, collect_values=True)
        if col is None or col["n_values"] != rows:
            return None
        n_data += 1
        total_rows += rows
        vals = col["values"]
        positions, card = dvs.get(path, ([], 0))
        if positions and positions[-1] >= rows:
            return None  # a delete past the file's end
        dead = set(positions)
        deleted += len(dead)
        for j, v in enumerate(vals):
            if j not in dead:
                live_rows += 1
                live_sum += v
    return {
        "n_data_files": n_data,
        "n_dvs": len(dvs),
        "total_rows": total_rows,
        "deleted_rows": deleted,
        "live_rows": live_rows,
        "live_k_sum": live_sum,
    }


def iceberg_dv_stats(df: DataFrame) -> DataFrame:
    """v3 DV merge-on-read scan over MEDIA_SCHEMA tar blobs."""
    return blob_stats(df, read_iceberg_dv_scan, ICEBERG_DV_SCHEMA, "iceberg")


def _dv_file_rows(i: int, f: int) -> int:
    return 20 + (i + 9 * f) % 60


def _dv_kval(i: int, f: int, j: int) -> int:
    return (i * 3 + f * 19 + 5 * j) % 1000


def _dv_positions(i: int, f: int, rows: int) -> list[int]:
    return sorted({(i + 3 * f + 7 * t) % rows for t in range(rows // 4)})


def _make_iceberg_dv_table(i: int) -> bytes:
    """``2 + i % 2`` data files; file 0 always carries a DV, file 1
    too on odd ids (so two-DV tables exist and the offset-swap lie
    has a target).
    Lies: every 13th id flips one CRC byte inside the puffin DV blob
    (framing catches it), every 17th-miss id overstates a DV's
    cardinality in manifest AND blob properties consistently (the
    roaring decode's own count exposes it), every 19th-miss id's
    manifest content_offset is shifted to the OTHER blob's range
    (the referenced-data-file cross-check refuses)."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    import zlib

    from gmall_flink_210726_spark.operators.avro import (
        make_avro_container,
    )
    from gmall_flink_210726_spark.operators.roaring import (
        rbm_array_encode,
    )

    nf = 2 + i % 2
    members: list[tuple[str, bytes]] = []
    data_entries = []
    dv_specs = []  # (ref_path, positions)
    for f in range(nf):
        rows = _dv_file_rows(i, f)
        kv = [_dv_kval(i, f, j) for j in range(rows)]
        buf = io.BytesIO()
        pq.write_table(
            pa.table({"k": pa.array(kv, pa.int64())}),
            buf,
            write_statistics=False,
            use_dictionary=False,
        )
        blob = buf.getvalue()
        path = f"data/part-{f}.parquet"
        members.append((path, blob))
        data_entries.append(
            {
                "status": 1,
                "snapshot_id": 1,
                "data_file": {
                    "file_path": path,
                    "file_format": "PARQUET",
                    "record_count": rows,
                    "file_size_in_bytes": len(blob),
                },
            }
        )
        if f == 0 or (f == 1 and i % 2 == 1):
            dv_specs.append((path, _dv_positions(i, f, rows)))
    # build the puffin with one DV blob per spec
    blobs = []
    for spec_no, (ref, positions) in enumerate(dv_specs):
        vec = rbm_array_encode(positions)
        payload = (
            struct.pack(">I", len(vec))
            + vec
            + struct.pack(">I", zlib.crc32(vec))
        )
        card = len(positions)
        if i % 17 == 0 and i % 13 != 0 and spec_no == 0:
            card += 1  # consistent manifest+properties lie
        blobs.append(
            (
                {
                    "type": "deletion-vector-v1",
                    "fields": [2147483546],
                    "snapshot-id": 1,
                    "sequence-number": 1,
                    "properties": {
                        "referenced-data-file": ref,
                        "cardinality": str(card),
                    },
                },
                payload,
            )
        )
    puf = bytearray(make_puffin(blobs, compress_footer=i % 2 == 1))
    parsed = parse_puffin(bytes(puf))
    dv_entries = []
    for (bm, _payload), (ref, positions) in zip(
        parsed["blobs"], dv_specs
    ):
        card = int(bm["properties"]["cardinality"])
        off, ln = bm["offset"], bm["length"]
        dv_entries.append(
            {
                "status": 1,
                "delete_file": {
                    "content": 2,
                    "file_path": "dv.puffin",
                    "referenced_data_file": ref,
                    "content_offset": off,
                    "content_size_in_bytes": ln,
                    "record_count": card,
                },
            }
        )
    if i % 13 == 0:
        # flip the last CRC byte of the FIRST DV blob in place
        bm0 = parsed["blobs"][0][0]
        at = bm0["offset"] + bm0["length"] - 1
        puf[at] ^= 0x55
    if i % 19 == 0 and i % 13 != 0 and i % 17 != 0 and len(dv_entries) >= 2:
        # point DV 0's manifest range at DV 1's blob
        dv_entries[0]["delete_file"]["content_offset"] = dv_entries[1][
            "delete_file"
        ]["content_offset"]
        dv_entries[0]["delete_file"]["content_size_in_bytes"] = (
            dv_entries[1]["delete_file"]["content_size_in_bytes"]
        )
    from gmall_flink_210726_spark.operators.iceberg import (
        MANIFEST_SCHEMA,
    )

    members.append(("dv.puffin", bytes(puf)))
    members.append(
        (
            "meta/data-m0.avro",
            make_avro_container(MANIFEST_SCHEMA, data_entries),
        )
    )
    members.append(
        (
            "meta/dv-m0.avro",
            make_avro_container(MANIFEST_DV_SCHEMA, dv_entries),
        )
    )
    members.append(
        (
            "v3.metadata.json",
            json.dumps(
                {
                    "format-version": 3,
                    "table-uuid": f"tbl-{i}",
                    "data-manifest": "meta/data-m0.avro",
                    "delete-manifest": "meta/dv-m0.avro",
                }
            ).encode(),
        )
    )
    parts = []
    for name, pl in members:
        pad = (-len(pl)) % _BLOCK
        parts.append(_make_header(name, len(pl)) + pl + b"\x00" * pad)
    return b"".join(parts) + b"\x00" * (2 * _BLOCK)


def synthesize_iceberg_dv_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of v3 DV tables."""
    return synthesize_blobs(docs, _make_iceberg_dv_table, blob_meta("iceberg"))


# --------------------------------------------------------------------------
# Puffin bound into the Iceberg metadata walk: table-metadata
# ``statistics`` entries resolved PER SNAPSHOT (iceberg spec 'Table
# Statistics') — the composition gap the standalone NDV walk left
# --------------------------------------------------------------------------


def read_iceberg_stats_bound(data: bytes) -> dict | None:
    """Tar table -> the CURRENT snapshot's statistics file resolved
    through ``metadata.json``'s ``statistics`` list (snapshot-id
    binding), then the full NDV trust chain: the entry's
    file-size/footer-size books against the actual Puffin bytes, the
    entry's blob-metadata against the Puffin footer's own (type,
    fields, snapshot-id), the claimed ndv against the payload's
    strictly-ascending books, and finally against the DISTINCT count
    of the snapshot's actual data decoded through the manifest
    chain. A STALE statistics file for an older snapshot rides in
    every table — binding by snapshot-id is what keeps it unread."""
    from gmall_flink_210726_spark.operators.avro import (
        read_avro_container,
    )
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
    snap_id = meta.get("current-snapshot-id")
    snaps = meta.get("snapshots")
    stats_list = meta.get("statistics")
    if (
        not isinstance(snap_id, int)
        or not isinstance(snaps, list)
        or not isinstance(stats_list, list)
    ):
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
    bound = [
        st
        for st in stats_list
        if isinstance(st, dict) and st.get("snapshot-id") == snap_id
    ]
    if len(bound) != 1:
        return None  # exactly one statistics file per snapshot
    st = bound[0]
    stale_ndvs = []
    for other in stats_list:
        if other is st:
            continue
        blobs_meta = other.get("blob-metadata")
        if not isinstance(blobs_meta, list) or len(blobs_meta) != 1:
            return None
        try:
            stale_ndvs.append(
                int(blobs_meta[0]["properties"]["ndv"])
            )
        except (KeyError, ValueError, TypeError):
            return None
    puf = files.get(st.get("statistics-path"))
    if puf is None or len(puf) != st.get("file-size-in-bytes"):
        return None
    parsed = parse_puffin(puf)
    if parsed is None or len(parsed["blobs"]) != 1:
        return None
    # footer books: magic + payload + payload-size + flags + magic
    (psize,) = struct.unpack_from("<I", puf, len(puf) - 12)
    if st.get("file-footer-size-in-bytes") != psize + 16:
        return None
    bm, payload = parsed["blobs"][0]
    decl = st.get("blob-metadata")
    if not isinstance(decl, list) or len(decl) != 1:
        return None
    d = decl[0]
    if (
        d.get("type") != bm.get("type")
        or d.get("fields") != bm.get("fields")
        or d.get("snapshot-id") != bm.get("snapshot-id")
        or bm.get("snapshot-id") != snap_id
    ):
        return None  # the blob must describe THIS snapshot
    if bm.get("type") != "deterministic-distinct-v1":
        return None
    try:
        ndv = int(bm["properties"]["ndv"])
        ndv_decl = int(d["properties"]["ndv"])
    except (KeyError, ValueError, TypeError):
        return None
    if ndv != ndv_decl:
        return None
    if len(payload) % 8:
        return None
    vals = [
        struct.unpack_from(">q", payload, o)[0]
        for o in range(0, len(payload), 8)
    ]
    if any(b <= a for a, b in zip(vals, vals[1:])):
        return None
    if len(vals) != ndv:
        return None
    # the snapshot's actual data, through the manifest chain
    mlist_blob = files.get(snap.get("manifest-list"))
    if mlist_blob is None:
        return None
    got = read_avro_container(mlist_blob)
    if got is None:
        return None
    mlist, _, _ = got
    distinct: set[int] = set()
    n_rows = 0
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
                    continue
                df = ent["data_file"]
                pq_blob = files.get(df["file_path"])
                if (
                    pq_blob is None
                    or len(pq_blob) != df["file_size_in_bytes"]
                ):
                    return None
                col = read_parquet_column_k(
                    pq_blob, collect_values=True
                )
                if col is None or col["n_values"] != df["record_count"]:
                    return None
                distinct.update(col["values"])
                n_rows += col["n_values"]
    except (TypeError, KeyError, ValueError):
        return None
    if distinct != set(vals):
        return None  # the sketch vs the snapshot's REAL data
    return {
        "n_snapshots": len(snaps),
        "ndv": ndv,
        "stale_ndv": max(stale_ndvs) if stale_ndvs else 0,
        "n_rows": n_rows,
    }


ICEBERG_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_snapshots", LongType()),
        StructField("ndv", LongType()),
        StructField("stale_ndv", LongType()),
        StructField("n_rows", LongType()),
    ]
)


def iceberg_stats_bound(df: DataFrame) -> DataFrame:
    """Snapshot-bound Puffin statistics walk over MEDIA_SCHEMA."""
    return blob_stats(df, read_iceberg_stats_bound, ICEBERG_STATS_SCHEMA, "iceberg")


def _stats_kvals(i: int) -> list[int]:
    n = 40 + i % 60
    return [(i * 7 + 3 * r) % 97 for r in range(n)]


def _make_iceberg_stats_table(i: int) -> bytes:
    """Two snapshots: S1 (old) and S2 (current), each with a full
    manifest chain and its own Puffin statistics file resolved via
    ``metadata.json``'s ``statistics`` list. The S1 stats file is
    the DECOY: it truthfully describes S1's data, whose ndv is
    constructed to always differ from S2's — a reader that grabs any
    stats file instead of binding by snapshot-id reports stale_ndv.
    Lies: every 13th id's S2 entry (and blob) claims ndv+1 (payload
    books refuse); every 17th-miss id lies about file-size-in-bytes
    (refused); every 19th-miss id points the S2 entry at the S1
    FILE (its blob snapshot-id disagrees - refused)."""
    from gmall_flink_210726_spark.operators.avro import (
        make_avro_container,
    )
    from gmall_flink_210726_spark.operators.iceberg import (
        MANIFEST_SCHEMA,
        MLIST_SCHEMA,
    )

    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    s1, s2 = 800 + i, 900 + i
    kv2 = _stats_kvals(i)
    distinct2 = sorted(set(kv2))
    ndv2 = len(distinct2)
    d_old = ndv2 + 1 + i % 7  # provably != ndv2
    distinct1 = [2000 + 3 * r for r in range(d_old)]
    kv1 = distinct1 + [distinct1[0]]

    def data_pq(kv):
        buf = io.BytesIO()
        pq.write_table(
            pa.table({"k": pa.array(kv, pa.int64())}),
            buf,
            write_statistics=False,
            use_dictionary=False,
        )
        return buf.getvalue()

    members: list[tuple[str, bytes]] = []

    def chain(tag, snap_id, kv):
        blob = data_pq(kv)
        dpath = f"data/{tag}.parquet"
        members.append((dpath, blob))
        manifest = make_avro_container(
            MANIFEST_SCHEMA,
            [
                {
                    "status": 1,
                    "snapshot_id": snap_id,
                    "data_file": {
                        "file_path": dpath,
                        "file_format": "PARQUET",
                        "record_count": len(kv),
                        "file_size_in_bytes": len(blob),
                    },
                }
            ],
        )
        members.append((f"meta/m-{tag}.avro", manifest))
        mlist = make_avro_container(
            MLIST_SCHEMA,
            [
                {
                    "manifest_path": f"meta/m-{tag}.avro",
                    "manifest_length": len(manifest),
                    "partition_spec_id": 0,
                    "added_files_count": 1,
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                }
            ],
        )
        mlp = f"meta/snap-{tag}.avro"
        members.append((mlp, mlist))
        return mlp

    ml1 = chain("old", s1, kv1)
    ml2 = chain("cur", s2, kv2)

    def stats_file(snap_id, distinct, ndv_claim):
        payload = b"".join(
            struct.pack(">q", v) for v in distinct
        )
        bm = {
            "type": "deterministic-distinct-v1",
            "fields": [1],
            "snapshot-id": snap_id,
            "sequence-number": 1,
            "properties": {"ndv": str(ndv_claim)},
        }
        return bm, make_puffin([(bm, payload)])

    bm1, puf1 = stats_file(s1, distinct1, d_old)
    ndv_claim2 = ndv2 + (1 if i % 13 == 0 else 0)
    bm2, puf2 = stats_file(s2, distinct2, ndv_claim2)
    members.append(("stats-1.puffin", puf1))
    members.append(("stats-2.puffin", puf2))

    def entry(snap_id, path, puf, bm):
        (psize,) = struct.unpack_from("<I", puf, len(puf) - 12)
        return {
            "snapshot-id": snap_id,
            "statistics-path": path,
            "file-size-in-bytes": len(puf),
            "file-footer-size-in-bytes": psize + 16,
            "blob-metadata": [bm],
        }

    e1 = entry(s1, "stats-1.puffin", puf1, bm1)
    e2 = entry(s2, "stats-2.puffin", puf2, bm2)
    if i % 17 == 0 and i % 13 != 0:
        e2["file-size-in-bytes"] += 1
    if i % 19 == 0 and i % 13 != 0 and i % 17 != 0:
        e2["statistics-path"] = "stats-1.puffin"
        e2["file-size-in-bytes"] = len(puf1)
        (p1,) = struct.unpack_from("<I", puf1, len(puf1) - 12)
        e2["file-footer-size-in-bytes"] = p1 + 16
    meta = {
        "format-version": 2,
        "table-uuid": f"tbl-stats-{i}",
        "current-snapshot-id": s2,
        "snapshots": [
            {"snapshot-id": s1, "manifest-list": ml1},
            {"snapshot-id": s2, "manifest-list": ml2},
        ],
        "statistics": [e1, e2],
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


def synthesize_iceberg_stats_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of two-snapshot Iceberg tables with
    snapshot-bound Puffin statistics."""
    return synthesize_blobs(docs, _make_iceberg_stats_table, blob_meta("iceberg"))
