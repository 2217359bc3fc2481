"""WebDataset loader pass — the END-TO-END shard walk a multimodal
training pipeline actually runs: ``.tar`` shards whose members are
one sample each (the WebDataset convention: consecutive members
sharing a basename key form a sample, extensions are the fields,
here ``<key>.jpg`` + ``<key>.cls``), each ``.jpg`` decoded by the
repo's from-scratch baseline-JPEG decoder and reduced to per-shard
pixel checksums. Composes the tar walk (operators/tar.py) with the
JPEG decode (operators/jpeg.py) as ONE operator.

Degrade contract is two-layered, exactly like a real loader:

- a CORRUPT SHARD (bad tar header/checksum/EOF framing) degrades the
  whole row to ``format='unknown'`` — the shard index can't be
  trusted;
- a corrupt SAMPLE (truncated JPEG, non-integer label) is counted in
  ``n_bad`` and skipped, the rest of the shard still loads — a
  loader drops bad samples, it doesn't drop shards.

Scale design: Arrow-batched ``mapInPandas``; shards never shuffle,
only a dozen integer stats per shard do. At 100 TB each shard is one
task and the walk streams member-by-member.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.tar import (
    _BLOCK,
    _make_header,
    _parse_header,
)

WDS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_samples", LongType()),
        StructField("n_ok", LongType()),
        StructField("n_bad", LongType()),
        StructField("n_pixels", LongType()),
        StructField("pixel_sum", LongType()),
        StructField("cls_sum", LongType()),
    ]
)


def _iter_tar_members(data: bytes) -> list[tuple[str, bytes]] | None:
    """Member list with payloads, same framing contract as
    tar._walk_tar (checksummed headers, zero padding, two-zero-block
    EOF, exact end); None on any shard-level violation."""
    pos, end = 0, len(data)
    out: list[tuple[str, bytes]] = []
    while True:
        if pos + _BLOCK > end:
            return None
        block = data[pos : pos + _BLOCK]
        if block == b"\x00" * _BLOCK:
            if pos + 2 * _BLOCK != end:
                return None
            if data[pos + _BLOCK : pos + 2 * _BLOCK] != b"\x00" * _BLOCK:
                return None
            break
        parsed = _parse_header(block)
        if parsed is None:
            return None
        name, size = parsed
        padded = (size + _BLOCK - 1) // _BLOCK * _BLOCK
        if pos + _BLOCK + padded > end:
            return None
        if any(data[pos + _BLOCK + size : pos + _BLOCK + padded]):
            return None
        out.append((name, data[pos + _BLOCK : pos + _BLOCK + size]))
        pos += _BLOCK + padded
    return out if out else None


def _walk_wds(data: bytes) -> dict | None:
    """Shard walk -> per-sample decode -> shard stats. Samples are
    consecutive members grouped by basename key; each needs exactly
    a ``.jpg`` and a ``.cls`` field (any other shape is a shard-
    grammar violation). JPEG decode or label-parse failure marks
    the SAMPLE bad; everything else still loads."""
    import struct as _struct

    from gmall_flink_210726_spark.operators.jpeg import _decode_jpeg

    members = _iter_tar_members(data)
    if members is None:
        return None
    # group consecutive members by key (the WebDataset convention)
    samples: list[dict[str, bytes]] = []
    cur_key = None
    for name, payload in members:
        dot = name.find(".")
        if dot <= 0:
            return None
        key, ext = name[:dot], name[dot + 1 :]
        if key != cur_key:
            samples.append({})
            cur_key = key
        if ext in samples[-1]:
            return None  # duplicate field in one sample
        samples[-1][ext] = payload
    n_ok = n_bad = n_pixels = pixel_sum = cls_sum = 0
    for fields in samples:
        if set(fields) != {"jpg", "cls"}:
            return None  # shard grammar: every sample has both fields
        try:
            w, h, px = _decode_jpeg(fields["jpg"])
            cls = int(fields["cls"].decode("ascii"))
        except (ValueError, _struct.error, IndexError, UnicodeDecodeError):
            n_bad += 1  # a loader skips the sample, not the shard
            continue
        n_ok += 1
        n_pixels += int(w) * int(h)
        pixel_sum += int(px.sum(dtype="int64"))
        cls_sum += cls
    return {
        "n_samples": len(samples),
        "n_ok": n_ok,
        "n_bad": n_bad,
        "n_pixels": n_pixels,
        "pixel_sum": pixel_sum,
        "cls_sum": cls_sum,
    }


def wds_sample_stats(df: DataFrame) -> DataFrame:
    """WebDataset shard walk + JPEG decode over MEDIA_SCHEMA blobs."""
    return blob_stats(df, _walk_wds, WDS_SCHEMA, "webdataset")


def _make_wds_shard(i: int, bad_stripe: int = 17) -> bytes:
    """``2 + i % 3`` samples with keys ``4i+s``; each sample is a
    real baseline JPEG (jpeg._make_jpeg, whose every-13th-id
    truncation stripe becomes the BAD-SAMPLE stripe here) plus a
    one-digit ``.cls`` label ``sid % 10``. Every ``bad_stripe``-th
    id flips a byte of the first header's magic — a corrupt SHARD
    that must degrade whole."""
    from gmall_flink_210726_spark.operators.jpeg import _make_jpeg

    parts = []
    for s in range(2 + i % 3):
        sid = 4 * i + s
        jpg = _make_jpeg(sid)
        cls = str(sid % 10).encode("ascii")
        for ext, payload in (("jpg", jpg), ("cls", cls)):
            name = f"{sid:08d}.{ext}"
            pad = (-len(payload)) % _BLOCK
            parts.append(
                _make_header(name, len(payload))
                + payload
                + b"\x00" * pad
            )
    parts.append(b"\x00" * (2 * _BLOCK))
    blob = bytearray(b"".join(parts))
    if i % bad_stripe == 0:
        blob[257] ^= 0x01  # smash the first header's ustar magic
    return bytes(blob)


def synthesize_wds_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of WebDataset tar shards."""
    return synthesize_blobs(docs, _make_wds_shard, blob_meta("webdataset"), partitions)
