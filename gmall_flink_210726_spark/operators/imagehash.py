"""Perceptual image hashing + Hamming near-dup over REAL image bytes.

Beyond-reference surface (BASELINE.json north star): image-level
deduplication, the multimodal sibling of the text near-dup family
(operators/dedup.py). A training-data pipeline dedups images by
*content similarity*, not byte equality — re-encoded, slightly
edited, or watermark-perturbed copies must still collide. The
industry-standard cheap signal is a difference hash (dHash,
Krawetz 2013, public): sample the decoded pixels down to a
(grid+1)xgrid grid, emit one bit per horizontal neighbor comparison,
then near-dup = small Hamming distance between 64-bit hashes.

Pipeline shape (all stages distributed, nothing driver-side):

  real BMP bytes --mapInPandas--> (media_id, w, h, dhash int64)
                 --4-band pigeonhole join--> candidate pairs
                 --popcount verify--> (id_a, id_b, hamming)

Scale design (100 TB of images): pixel decode is Arrow-batched
mapInPandas (blobs cross into Python once per batch, numpy per blob);
only (media_id, dhash) ever shuffles — 16 bytes/row no matter the
image size. The band join reuses ``_bucket_pairs``
(operators/dedup.py:172) so per-task memory stays bounded even when a
degenerate corpus puts millions of identical images in one bucket.
With max_hamming ≤ 3 and four 16-bit bands the pigeonhole principle
makes the banded join EXACT (3 bit flips cannot touch all 4 bands) —
the same contract dedup_simhash ships (operators/dedup.py:436).

The grouped-BMP fixture synthesizer perturbs at most two sampled grid
cells per group member, so true within-group Hamming is ≤ 3 by
construction and a DuckDB oracle can recompute hashes AND pairs blind
from the LCG formulas (the multimodal_headers pattern,
operators/multimodal.py:151).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.dedup import _bucket_pairs
from gmall_flink_210726_spark.operators.multimodal import (
    _bmp24_pixels,
    blob_meta,
    blob_stats,
    synthesize_blobs,
)

# fixture-dim formulas: one image *shape* per GROUP (doc_id // group),
# so group members decode to identically-sized pixel arrays. Shared
# with the DuckDB oracle in queries/llm5.py; the decoder never sees
# them — it parses the on-wire header.
_GRP_W = lambda s: 4 + s % 29  # noqa: E731
_GRP_H = lambda s: 3 + s % 13  # noqa: E731


def _make_group_bmp(media_id: int, group: int) -> bytes:
    """24-bpp BMP whose payload follows the LCG of its GROUP seed
    ``s = media_id // group``, plus a per-member perturbation of at
    most two bytes — both at offsets that land on dHash-sampled grid
    cells (cell (0,0) and cell (3,4)), so within-group Hamming is ≤ 3
    (cell (0,0) feeds one comparison, cell (3,4) feeds two) while
    cross-group hashes are uncorrelated."""
    import struct

    import numpy as np

    s, p = media_id // group, media_id % group
    w, h = _GRP_W(s), _GRP_H(s)
    rowb = (w * 3 + 3) // 4 * 4
    n = rowb * h
    payload = ((s * 31 + 7 * np.arange(n, dtype=np.int64)) % 256).astype(np.uint8)
    o2 = (3 * h // 8) * rowb + (4 * w // 9) * 3
    payload[0] = (int(payload[0]) + p) % 256
    payload[o2] = (int(payload[o2]) + p) % 256
    header = struct.pack("<2sIHHI", b"BM", 54 + n, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, n, 2835, 2835, 0, 0
    )
    return header + payload.tobytes()


def synthesize_grouped_bmp(docs: DataFrame, group: int = 4) -> DataFrame:
    """MEDIA_SCHEMA table of real BMP blobs in near-duplicate groups of
    ``group`` consecutive doc_ids — the image analog of a corpus with
    re-encoded copies."""
    return synthesize_blobs(
        docs,
        lambda i: _make_group_bmp(i, group),
        lambda i: blob_meta("bmp", _GRP_W(i // group), _GRP_H(i // group)),
    )


DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("dhash", LongType()),
    ]
)


def _dhash_walk(b: bytes, grid: int) -> dict | None:
    """Difference hash from on-wire BMP bytes: nearest-neighbor sample
    a (grid+1) x grid luminance grid in stored-row space (the
    ``_resize_walk`` sampling convention, operators/multimodal.py —
    sample source pixel (x*w//(grid+1), y*h//grid), cell value = sum
    of the 3 channel bytes), then bit (y,x) = cell[y][x+1] > cell[y][x]
    packed little-endian into an int64."""
    import numpy as np

    got = _bmp24_pixels(b)
    if got is None:
        return None
    w, h, arr = got
    gw = grid + 1
    sy = (np.arange(grid, dtype=np.int64) * h) // grid
    sx = (np.arange(gw, dtype=np.int64) * w) // gw
    cols = sx[:, None] * 3 + np.arange(3)
    # (grid, gw): per-cell luminance = sum of 3 bytes
    cells = arr[sy][:, cols].sum(axis=2, dtype=np.int64)
    bits = (cells[:, 1:] > cells[:, :-1]).ravel()
    weights = np.uint64(1) << np.arange(grid * grid, dtype=np.uint64)
    sig = np.uint64(np.sum(weights[bits], dtype=np.uint64))
    return {"width": int(w), "height": int(h), "dhash": int(sig.astype(np.int64))}


def dhash_images(df: DataFrame, grid: int = 8) -> DataFrame:
    """64-bit dHash per image over MEDIA_SCHEMA input; output is 5
    scalar columns — the only thing downstream stages ever shuffle.
    Non-BMP/corrupt blobs degrade to format='unknown', dhash 0."""
    return blob_stats(df, lambda b: _dhash_walk(b, grid), DHASH_SCHEMA, "bmp")


def dhash_near_pairs(
    hashes: DataFrame,
    max_hamming: int = 3,
    max_bucket: int = 512,
) -> DataFrame:
    """Hamming near-dup image pairs by the 4-band pigeonhole trick —
    the exact machinery of ``simhash_near_pairs``
    (operators/dedup.py:436) pointed at image hashes: hamming ≤ 3 ⇒ at
    least one 16-bit band identical, so candidates come from ONE
    equi-join on (band, band-value) with bounded buckets, verified by
    exact popcount. Input: (media_id, dhash); output
    (id_a, id_b, hamming)."""
    sig = hashes.select(F.col("media_id").alias("id"), "dhash")
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("dhash"), b * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("bv"),
            )
            for b in range(4)
        ]
    )
    banded = sig.select("id", "dhash", F.explode(band_structs).alias("b")).select(
        "id", "dhash", F.col("b.band").alias("band"), F.col("b.bv").alias("bv")
    )
    cand = (
        _bucket_pairs(banded, payload=F.col("dhash"), max_bucket=max_bucket)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.dhash").alias("dh_a"),
            F.col("b.dhash").alias("dh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("dh_a").bitwiseXOR(F.col("dh_b"))).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
