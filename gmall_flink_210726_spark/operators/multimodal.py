"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Beyond-reference surface (BASELINE.json north star). REAL, fully
decoded with stdlib alone: BMP (struct header walk + exact payload
sums), WAV (RIFF chunk walk, 16-bit PCM frames), and PNG (8-bit
truecolor — chunk walk + CRC + zlib IDAT inflate + all five spec
scanline unfilters). Codec-library formats (JPEG etc.) remain honest
stubs behind ``try-import`` (decode_image raises NotImplementedError
without PIL). Also real and tested:

- the column contract: ``content binary`` + ``meta struct<format,
  width, height, sample_rate>``;
- the Spark-side plumbing: ``mapInPandas`` over Arrow batches,
  schema declared up front, partition-preserving;
- a deterministic fake decoder (header peek + byte stats) exercising
  the identical UDF signature and batch shape the real codecs drop
  into.

Scale design (100 TB of media): blobs never pass through Python row-
by-row — Arrow moves each batch once; per-batch work is vectorized;
decode parallelism is partition parallelism (``repartition(n)`` before
the map when blob sizes skew). A blob query is
``decoder(synthesizer(docs))``, and each half reaches Spark one way:

- a synthesizer calls ``synthesize_blobs(docs, make, meta)``, which
  shuffles only the doc ids (``partitions`` or ``ensure_parallelism``)
  and then builds ``make(i)`` / ``meta(i)`` per id;
- a decoder calls ``blob_stats(df, walk, schema, fmt)``, which owns the
  bad-blob policy: a blob the walk refuses (None) or fails on gets
  ``format='unknown'`` and schema-typed blanks, in one ``try``.

Both end in ``map_pandas``, which runs the pair as ONE mapInPandas
node: the decoder consumes the synthesizer's pandas batches in the
same Python worker, so the blobs never make the Python → JVM → Python
round trip between them, and the query pays the fixed per-node cost
(worker hand-off, Arrow framing both ways) once instead of twice.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("content", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("format", StringType()),
                    StructField("width", LongType()),
                    StructField("height", LongType()),
                    StructField("sample_rate", LongType()),
                ]
            ),
        ),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("header", LongType()),
        StructField("checksum", LongType()),
    ]
)


def map_pandas(
    df: DataFrame, fn, schema: StructType | str, cols: list[str] | None = None
) -> DataFrame:
    """``df.select(*cols).mapInPandas(fn, schema)`` that fuses chains.

    When ``df`` is the very object an earlier ``map_pandas`` call
    returned, no second Python node is added: ``fn`` is composed after
    the upstream's pandas function (``cols`` projected between them) in
    one mapInPandas over the upstream's input, so intermediate blobs
    never leave the worker. ``fn`` then reads the frames the upstream
    yielded, without the Arrow round trip that would cast them to the
    upstream's schema, so the upstream must yield the dtypes its schema
    declares. Any DataFrame step in between (``select``, ``filter``,
    ``repartition``, ``localCheckpoint``, a file round trip) yields a
    new object and so the plain two-node plan."""
    from gmall_flink_210726_spark.session import ship_package

    ship_package(df.sparkSession)
    upstream = vars(df).get("_map_pandas")
    if upstream is not None:
        src, up_fn, up_cols = upstream

        def fused(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            mid = up_fn(batches)
            return fn((p[cols] for p in mid) if cols else mid)

        return map_pandas(src, fused, schema, up_cols)
    out = (df.select(*cols) if cols else df).mapInPandas(fn, schema)
    out._map_pandas = (df, fn, cols)
    return out


def blob_meta(fmt: str, width: int = 0, height: int = 0, sample_rate: int = 0) -> dict:
    """One MEDIA_SCHEMA ``meta`` value."""
    return {"format": fmt, "width": width, "height": height, "sample_rate": sample_rate}


def synthesize_blobs(
    docs: DataFrame,
    make,
    meta,
    partitions: int | None = None,
    cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """MEDIA_SCHEMA table with one blob per doc: ``media_id`` is the
    ``cols[0]`` id, ``content`` is ``make(i, *rest)`` for the row's
    ``cols`` values (``i`` a Python int) and ``meta`` is ``meta(i)``, or
    ``meta`` itself when it is a dict (see ``blob_meta``). Only the
    ``cols`` cross the ``repartition(partitions)`` (or the
    ``ensure_parallelism`` split); the blobs are made after it."""
    from gmall_flink_210726_spark.session import ensure_parallelism

    sel = docs.select(*cols)
    # partitions: stream twins pin the src file count here, BEFORE
    # blob synthesis, so only doc ids are ever shuffled
    docs = sel.repartition(partitions) if partitions else ensure_parallelism(sel)
    meta_of = meta if callable(meta) else lambda _: meta

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[cols[0]].astype("int64")
            rows = list(zip(ids.tolist(), *(pdf[c] for c in cols[1:])))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [make(*r) for r in rows],
                    "meta": [meta_of(r[0]) for r in rows],
                }
            )

    return map_pandas(docs, gen, MEDIA_SCHEMA)


def _blank(dtype):
    """A decoder row's value for a field the walk did not fill."""
    if isinstance(dtype, StringType):
        return ""
    if isinstance(dtype, DoubleType):
        return 0.0
    if isinstance(dtype, LongType):
        return 0
    return None


def blob_batch(
    walk,
    schema: StructType,
    fmt: str,
    defaults: dict | None = None,
    by_id: bool = False,
    cols: tuple[str, str] = ("media_id", "content"),
):
    """The pandas step of ``blob_stats``: a function from one batch of
    ``cols`` to its ``schema`` frame (see ``blob_stats``)."""
    key, col = cols
    names = [f.name for f in schema.fields]
    blank = {f.name: _blank(f.dataType) for f in schema.fields}
    blank["format"] = "unknown"
    blank.update(defaults or {})

    def batch(pdf: pd.DataFrame) -> pd.DataFrame:
        out = []
        for mid, blob in zip(pdf[key], pdf[col]):
            row = dict(blank)
            row[key] = int(mid)
            if blob is None:
                b = b""
            else:
                b = blob if isinstance(blob, str) else bytes(blob)
            try:
                fields = walk(b, int(mid)) if by_id else walk(b)
            except Exception:
                fields = None
            if fields is not None:
                row["format"] = fmt
                row.update(fields)
            out.append(row)
        return pd.DataFrame(out, columns=names)

    return batch


def blob_stats(
    df: DataFrame,
    walk,
    schema: StructType,
    fmt: str,
    defaults: dict | None = None,
    by_id: bool = False,
    cols: tuple[str, str] = ("media_id", "content"),
) -> DataFrame:
    """One ``schema`` row per blob: ``walk(content)`` (``walk(content,
    media_id)`` with ``by_id``) returns the row's fields, or None for a
    blob it refuses; the row then gets ``format=fmt`` and those fields
    (a ``format`` among them wins). A refused blob, or one whose walk
    raises, keeps ``format='unknown'`` and schema-typed blanks
    (``defaults`` overrides some): one bad file never fails the
    partition. ``cols`` names the id and blob columns; a null blob
    walks as ``b""``, a string column's values walk as ``str``."""
    batch = blob_batch(walk, schema, fmt, defaults, by_id, cols)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield batch(pdf)

    return map_pandas(df, gen, schema, list(cols))


try:  # pragma: no cover — not in this container
    from PIL import Image  # type: ignore

    _HAVE_PIL = True
except Exception:  # pragma: no cover
    Image = None
    _HAVE_PIL = False


def decode_image(content: bytes):  # pragma: no cover — real-codec path
    """Real image decode — requires PIL; stubbed in this container."""
    if not _HAVE_PIL:
        raise NotImplementedError("image codec not available in this environment")
    import io

    return Image.open(io.BytesIO(content))


def _fake_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in with the same shape a real decoder has:
    reads each blob once, emits fixed-schema features."""
    out = {
        "media_id": pdf["media_id"],
        "n_bytes": pdf["content"].map(lambda b: len(b) if b is not None else 0),
        "header": pdf["content"].map(
            lambda b: int.from_bytes(b[:4], "big") if b and len(b) >= 4 else 0
        ),
        "checksum": pdf["content"].map(
            lambda b: sum(b[:64]) if b is not None else 0
        ),
    }
    return pd.DataFrame(out)


def decode_media(df: DataFrame) -> DataFrame:
    """mapInPandas decode pipeline over MEDIA_SCHEMA-shaped input. The
    iterator shape lets a real decoder stream batch-by-batch without
    materializing a partition."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _fake_decode_batch(pdf)

    return map_pandas(df, gen, DECODED_SCHEMA, ["media_id", "content"])


HEADER_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_channels", LongType()),
        StructField("sample_rate", LongType()),
        StructField("bits_per_sample", LongType()),
        StructField("data_bytes", LongType()),
        StructField("n_bytes", LongType()),
        StructField("payload_sum", LongType()),
    ]
)

# deterministic fixture-dim formulas (shared by the synthesizer and the
# DuckDB oracle in queries/llm.py — the decoder itself never sees them,
# it parses the bytes)
_BMP_W = lambda i: 4 + i % 29  # noqa: E731
_BMP_H = lambda i: 3 + i % 13  # noqa: E731
_WAV_CH = lambda i: 1 + i % 2  # noqa: E731
_WAV_SR = lambda i: 8000 + (i % 5) * 2000  # noqa: E731
_WAV_NS = lambda i: 32 + i % 64  # noqa: E731


def _make_bmp(media_id: int) -> bytes:
    """24-bpp BITMAPINFOHEADER BMP built with stdlib struct. Rows are
    4-byte padded per the spec; every payload byte (padding included)
    follows the LCG ``(id*31 + 7*i) % 256`` so a SQL oracle can recompute
    the exact byte sum."""
    import struct

    import numpy as np

    w, h = _BMP_W(media_id), _BMP_H(media_id)
    row = (w * 3 + 3) // 4 * 4
    n = row * h
    payload = ((media_id * 31 + 7 * np.arange(n, dtype=np.int64)) % 256).astype(
        np.uint8
    )
    header = struct.pack("<2sIHHI", b"BM", 54 + n, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, n, 2835, 2835, 0, 0
    )
    return header + payload.tobytes()


def _make_wav(media_id: int) -> bytes:
    """16-bit PCM RIFF/WAVE file built with stdlib struct. Samples
    follow ``(id*13 + 5*i) % 65536 - 32768`` little-endian, again so the
    oracle can recompute the data-byte sum."""
    import struct

    import numpy as np

    ch, sr, ns = _WAV_CH(media_id), _WAV_SR(media_id), _WAV_NS(media_id)
    n = ns * ch * 2
    u = (media_id * 13 + 5 * np.arange(ns * ch, dtype=np.int64)) % 65536
    samples = (u - 32768).astype("<i2")
    header = (
        struct.pack("<4sI4s", b"RIFF", 36 + n, b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, ch, sr, sr * ch * 2, ch * 2, 16)
        + struct.pack("<4sI", b"data", n)
    )
    return header + samples.tobytes()


def _wav_chunks(b: bytes) -> tuple[int, int, int, int, int, int] | None:
    """RIFF chunk walk (fmt / data are not guaranteed adjacent):
    ``(fmt tag, channels, block align, bits, data pos, data size)``,
    zeros for a chunk that never appears; None for a non-WAVE blob."""
    import struct

    if not (b[:4] == b"RIFF" and b[8:12] == b"WAVE" and len(b) >= 44):
        return None
    tag = ch = balign = bits = 0
    data_pos = data_sz = 0
    pos = 12
    while pos + 8 <= len(b):
        cid, csz = struct.unpack_from("<4sI", b, pos)
        if cid == b"fmt ":
            tag, ch, _, _, balign, bits = struct.unpack_from("<HHIIHH", b, pos + 8)
        elif cid == b"data":
            data_pos, data_sz = pos + 8, csz
        pos += 8 + csz + (csz & 1)
    return tag, ch, balign, bits, data_pos, data_sz


def synthesize_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL media blobs: even doc_ids become BMP
    images, odd doc_ids 16-bit PCM WAV files, dims/rates deterministic
    functions of the id."""
    return synthesize_blobs(
        docs,
        lambda i: _make_bmp(i) if i % 2 == 0 else _make_wav(i),
        lambda i: blob_meta("bmp", _BMP_W(i), _BMP_H(i))
        if i % 2 == 0
        else blob_meta("wav", sample_rate=_WAV_SR(i)),
    )


def _decode_headers_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Real header parsing with stdlib struct — no codec libs needed for
    the container formats (BMP BITMAPINFOHEADER, WAV RIFF/fmt chunks).
    Unknown magic bytes degrade to format='unknown' with zeroed fields
    (the honest analog of a corrupt-blob branch at 100 TB: never throw
    away the partition for one bad file)."""
    import struct

    import numpy as np

    out = []
    for media_id, blob in zip(pdf["media_id"], pdf["content"]):
        b = bytes(blob) if blob is not None else b""
        row = {
            "media_id": int(media_id),
            "format": "unknown",
            "width": 0,
            "height": 0,
            "n_channels": 0,
            "sample_rate": 0,
            "bits_per_sample": 0,
            "data_bytes": 0,
            "n_bytes": len(b),
            "payload_sum": 0,
        }
        try:
            if b[:2] == b"BM" and len(b) >= 54:
                off = struct.unpack_from("<I", b, 10)[0]
                _, w, h, _, bpp, _, size_img = struct.unpack_from("<IiiHHII", b, 14)
                row.update(
                    format="bmp",
                    width=w,
                    height=abs(h),
                    bits_per_sample=bpp,
                    data_bytes=size_img or len(b) - off,
                    payload_sum=int(
                        np.frombuffer(b, np.uint8, offset=off).sum()
                    ),
                )
            elif b[:4] == b"RIFF" and b[8:12] == b"WAVE" and len(b) >= 44:
                # walk the chunk list (fmt /data are not guaranteed
                # adjacent), staging fields in a local dict applied only
                # after the whole walk succeeds — a corrupt/truncated
                # chunk mid-walk must yield the clean unknown-format
                # row, never a partially-populated 'wav' row
                pending: dict = {}
                pos = 12
                while pos + 8 <= len(b):
                    cid, csz = struct.unpack_from("<4sI", b, pos)
                    if cid == b"fmt ":
                        _, ch, sr, _, _, bits = struct.unpack_from(
                            "<HHIIHH", b, pos + 8
                        )
                        pending.update(
                            format="wav",
                            n_channels=ch,
                            sample_rate=sr,
                            bits_per_sample=bits,
                        )
                    elif cid == b"data":
                        pending.update(
                            data_bytes=csz,
                            payload_sum=int(
                                np.frombuffer(
                                    b, np.uint8, offset=pos + 8, count=csz
                                ).sum()
                            ),
                        )
                    pos += 8 + csz + (csz & 1)
                row.update(pending)
        except (struct.error, ValueError):
            pass  # keep the unknown-format row
        out.append(row)
    return pd.DataFrame(out, columns=[f.name for f in HEADER_SCHEMA.fields])


def decode_media_headers(df: DataFrame) -> DataFrame:
    """Real decode pipeline over MEDIA_SCHEMA input: Arrow-batched
    mapInPandas, struct-parsed BMP/WAV headers + exact payload byte
    sums. Same plumbing contract as ``decode_media``; this one reads
    actual on-wire bytes."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _decode_headers_batch(pdf)

    return map_pandas(df, gen, HEADER_SCHEMA, ["media_id", "content"])


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a MEDIA_SCHEMA table from the documents fixture: utf-8
    bytes as the opaque payload (the container has no real media), with
    plausible metadata."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.struct(
            F.lit("txt").alias("format"),
            F.lit(0).cast("long").alias("width"),
            F.lit(0).cast("long").alias("height"),
            F.lit(0).cast("long").alias("sample_rate"),
        ).alias("meta"),
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("out_w", LongType()),
        StructField("out_h", LongType()),
        StructField("thumb_sum", LongType()),
        StructField("thumb", BinaryType()),
    ]
)


def _bmp24_pixels(b: bytes):
    """``(w, h, stored rows)`` of a 24-bpp BMP, each row ``(w*3+3)//4*4``
    bytes (padding included, physical bottom-up order); None for any
    other blob."""
    import struct

    import numpy as np

    if not (b[:2] == b"BM" and len(b) >= 54):
        return None
    off = struct.unpack_from("<I", b, 10)[0]
    _, w, h, _, bpp, _, _ = struct.unpack_from("<IiiHHII", b, 14)
    h = abs(h)
    rowb = (w * 3 + 3) // 4 * 4
    if not (bpp == 24 and w > 0 and h > 0 and off + rowb * h <= len(b)):
        return None
    return w, h, np.frombuffer(b, np.uint8, offset=off, count=rowb * h).reshape(h, rowb)


def _resize_walk(b: bytes, out_w: int, out_h: int) -> dict | None:
    """Nearest-neighbor BMP thumbnail from the on-wire bytes: sample
    source pixel (x*w//out_w, y*h//out_h) in stored-row space (BMP rows
    are physically bottom-up; nearest-neighbor is orientation-
    invariant for the stats and the thumb keeps the stored order)."""
    import numpy as np

    got = _bmp24_pixels(b)
    if got is None:
        return None
    w, h, arr = got
    sy = (np.arange(out_h, dtype=np.int64) * h) // out_h
    sx = (np.arange(out_w, dtype=np.int64) * w) // out_w
    cols = (sx[:, None] * 3 + np.arange(3)).ravel()
    thumb = arr[np.ix_(sy, cols)]
    return {
        "out_w": out_w,
        "out_h": out_h,
        "thumb_sum": int(thumb.sum(dtype=np.int64)),
        "thumb": thumb.tobytes(),
    }


def resize_images(
    df: DataFrame, out_w: int = 8, out_h: int = 8
) -> DataFrame:
    """Image resize over MEDIA_SCHEMA input — the feature-extract /
    thumbnail stage of a multimodal training pipeline, on real BMP
    bytes (no codec libs needed); vectorized numpy per blob.
    Non-BMP/corrupt blobs degrade to format='unknown', thumb NULL."""
    return blob_stats(
        df, lambda b: _resize_walk(b, out_w, out_h), RESIZE_SCHEMA, "bmp"
    )


FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_frames", LongType()),
        StructField("frame_sum", LongType()),
        StructField("frame_abs_sum", LongType()),
    ]
)


def _frame_sample_walk(b: bytes, stride: int) -> dict | None:
    """Every ``stride``-th audio frame (one frame = one sample per
    channel) from real WAV bytes: signed-sample sum + abs sum of the
    sampled frames — the fixed-rate subsampling a speech pipeline runs
    before featurization."""
    import numpy as np

    w = _wav_chunks(b)
    if w is None:
        return None
    _, ch, _, bits, data_pos, data_sz = w
    if not (ch > 0 and bits == 16 and data_pos and data_pos + data_sz <= len(b)):
        return None
    n_samp = data_sz // (2 * ch) * ch  # whole frames only
    arr = np.frombuffer(b, "<i2", offset=data_pos, count=n_samp).reshape(-1, ch)
    sampled = arr[::stride].astype(np.int64)
    return {
        "n_frames": int(sampled.shape[0]),
        "frame_sum": int(sampled.sum()),
        "frame_abs_sum": int(np.abs(sampled).sum()),
    }


def frame_sample_audio(df: DataFrame, stride: int = 4) -> DataFrame:
    """Audio frame subsampling over MEDIA_SCHEMA input (see
    ``_frame_sample_walk``). Non-WAV/corrupt → format='unknown', zeros."""
    return blob_stats(
        df, lambda b: _frame_sample_walk(b, stride), FRAME_SCHEMA, "wav"
    )


CHANNEL_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_pixels", LongType()),
        StructField("sum_c0", LongType()),
        StructField("sum_c1", LongType()),
        StructField("sum_c2", LongType()),
    ]
)


def _channel_stats_walk(b: bytes) -> dict | None:
    """Per-channel byte sums over the PIXELS of a 24-bpp BMP (BGR order
    on the wire: c0=blue, c1=green, c2=red) — the feature-extraction
    stage of an image pipeline, on real bytes. Row PADDING is excluded,
    so an implementation that sums the raw payload (stride-naive) gets
    a different answer on any width whose 3*w is not 4-aligned."""
    import numpy as np

    got = _bmp24_pixels(b)
    if got is None:
        return None
    w, h, arr = got
    px = arr[:, : w * 3].reshape(h, w, 3).astype(np.int64)
    sums = px.sum(axis=(0, 1))
    return {
        "n_pixels": int(w * h),
        "sum_c0": int(sums[0]),
        "sum_c1": int(sums[1]),
        "sum_c2": int(sums[2]),
    }


def image_channel_stats(df: DataFrame) -> DataFrame:
    """Image feature extraction over MEDIA_SCHEMA input (see
    ``_channel_stats_walk``)."""
    return blob_stats(df, _channel_stats_walk, CHANNEL_SCHEMA, "bmp")


# ---------------------------------------------------------------------------
# PNG — a GENERAL compressed codec with stdlib zlib alone (closes the
# r4 "general codecs honestly stubbed" gap for the one format whose
# whole decode path — inflate + per-scanline unfilter — needs no
# external library). 8-bit truecolor (color type 2) is fully decoded;
# palette/alpha/16-bit/interlaced variants still degrade to
# format='unknown' like any unrecognized blob.
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# fixture-dim formulas (shared with the DuckDB oracle in queries/llm.py,
# like _BMP_W etc. above — the decoder never sees them)
_PNG_W = lambda i: 3 + i % 17  # noqa: E731
_PNG_H = lambda i: 2 + i % 11  # noqa: E731
_PNG_BAD = lambda i: i % 97 == 0  # noqa: E731 — deterministic corrupt rows


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data))
    )


def _filter_scanline(ft: int, cur, prev, bpp: int = 3):
    """Apply PNG filter ``ft`` (0=None 1=Sub 2=Up 3=Average 4=Paeth)
    to raw scanline ``cur`` given the raw prior scanline ``prev``;
    ``bpp`` is the filter unit (3 for truecolor, 1 for palette
    indices — PNG spec §9.2 filters operate on corresponding BYTES
    ``bpp`` back). Encoder-side mirror of ``_unfilter_scanline`` —
    kept spec-complete so tests can exercise every decode branch with
    real blobs."""
    import numpy as np

    c = cur.astype(np.int16)
    left = np.concatenate([np.zeros(bpp, np.int16), c[:-bpp]])
    up = prev.astype(np.int16)
    if ft == 0:
        return cur.tobytes()
    if ft == 1:
        return ((c - left) % 256).astype(np.uint8).tobytes()
    if ft == 2:
        return ((c - up) % 256).astype(np.uint8).tobytes()
    if ft == 3:
        return ((c - (left + up) // 2) % 256).astype(np.uint8).tobytes()
    if ft == 4:
        ul = np.concatenate([np.zeros(bpp, np.int16), up[:-bpp]])
        p = left + up - ul
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - ul)
        pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, up, ul))
        return ((c - pred) % 256).astype(np.uint8).tobytes()
    raise ValueError(f"bad filter {ft}")


def _make_png(media_id: int, filters=None) -> bytes:
    """8-bit truecolor PNG built with stdlib struct + zlib. Raw pixel
    byte ``i`` (row-major RGB raster) follows the LCG
    ``(id*37 + 11*i) % 256`` so a SQL oracle recomputes exact channel
    sums blind; scanline ``y`` is stored with filter ``y % 3``
    (None/Sub/Up — a decoder that skips unfiltering mismatches on any
    image taller than one row). ``filters`` overrides the per-row
    filter choice (tests use it to exercise Average/Paeth). Ids hitting
    ``_PNG_BAD`` are truncated after IHDR — a real-world corrupt blob."""
    import struct
    import zlib

    import numpy as np

    w, h = _PNG_W(media_id), _PNG_H(media_id)
    raw = (
        ((media_id * 37 + 11 * np.arange(h * w * 3, dtype=np.int64)) % 256)
        .astype(np.uint8)
        .reshape(h, w * 3)
    )
    lines = []
    prev = np.zeros(w * 3, np.uint8)
    for y in range(h):
        ft = (y % 3) if filters is None else filters[y % len(filters)]
        lines.append(bytes([ft]) + _filter_scanline(ft, raw[y], prev))
        prev = raw[y]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines), 6))
        + _png_chunk(b"IEND", b"")
    )
    if _PNG_BAD(media_id):
        return png[:33]  # signature + IHDR chunk, no pixel data
    return png


# palette-PNG fixture formulas (shared with the DuckDB oracle)
_PPL_W = lambda i: 4 + i % 15  # noqa: E731
_PPL_H = lambda i: 3 + i % 10  # noqa: E731
_PPL_P = lambda i: 16 + i % 17  # noqa: E731  palette entries
_PPL_BAD = lambda i: i % 14 == 0  # noqa: E731
_PPL_IDX = lambda i, k, P: (i * 53 + 17 * k) % P  # noqa: E731
_PPL_R = lambda i, j: (i * 7 + 29 * j) % 256  # noqa: E731
_PPL_G = lambda i, j: (i * 11 + 31 * j) % 256  # noqa: E731
_PPL_B = lambda i, j: (i * 13 + 37 * j) % 256  # noqa: E731


def _make_png_palette(media_id: int) -> bytes:
    """REAL paletted PNG (color type 3): a PLTE chunk of LCG colors
    plus a 1-byte-per-pixel index raster filtered with rotating
    ``y % 5`` filters at bpp=1 (the filter unit changes with the
    color type — a decoder reusing bpp=3 offsets misdecodes every
    Sub/Average/Paeth line). ``_PPL_BAD`` ids truncated after IHDR."""
    import struct
    import zlib

    import numpy as np

    i = int(media_id)
    w, h, P = _PPL_W(i), _PPL_H(i), _PPL_P(i)
    idx = (
        ((i * 53 + 17 * np.arange(h * w, dtype=np.int64)) % P)
        .astype(np.uint8)
        .reshape(h, w)
    )
    plte = bytes(
        v
        for j in range(P)
        for v in (_PPL_R(i, j), _PPL_G(i, j), _PPL_B(i, j))
    )
    lines = []
    prev = np.zeros(w, np.uint8)
    for y in range(h):
        ft = y % 5
        lines.append(bytes([ft]) + _filter_scanline(ft, idx[y], prev, bpp=1))
        prev = idx[y]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"PLTE", plte)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines), 6))
        + _png_chunk(b"IEND", b"")
    )
    if _PPL_BAD(i):
        return png[:33]
    return png


def synthesize_png_palette_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL paletted PNG blobs, one per doc_id;
    ids hitting ``_PPL_BAD`` truncated after IHDR."""
    return synthesize_blobs(
        docs,
        _make_png_palette,
        lambda i: blob_meta("corrupt" if _PPL_BAD(i) else "png", _PPL_W(i), _PPL_H(i)),
    )


# Adam7 pass grid (PNG spec §8.2): (x0, y0, dx, dy) per pass
_ADAM7 = [
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
]

# Adam7 fixture formulas (shared with the DuckDB oracle); w >= 5 and
# h >= 3 keep several passes non-empty while small ids still produce
# EMPTY passes (h < 5 skips the y0=4 pass), exercising the skip rule
_PA7_W = lambda i: 5 + i % 13  # noqa: E731
_PA7_H = lambda i: 3 + i % 9  # noqa: E731
_PA7_BAD = lambda i: i % 11 == 0  # noqa: E731
_PA7_V = lambda i, k: (i * 43 + 13 * k) % 256  # noqa: E731


def _make_png_adam7(media_id: int) -> bytes:
    """REAL Adam7-interlaced 8-bit truecolor PNG: raw raster bytes
    follow ``(id*43 + 13*k) % 256``; each pass's scanlines are
    filtered independently with rotating filters ``(pass + row) % 5``
    — all five spec filters (incl. Average/Paeth) cross the wire.
    ``_PA7_BAD`` ids are truncated after IHDR."""
    import struct
    import zlib

    import numpy as np

    w, h = _PA7_W(media_id), _PA7_H(media_id)
    raw = (
        ((media_id * 43 + 13 * np.arange(h * w * 3, dtype=np.int64)) % 256)
        .astype(np.uint8)
        .reshape(h, w, 3)
    )
    lines = []
    for p, (x0, y0, dx, dy) in enumerate(_ADAM7):
        sub = raw[y0::dy, x0::dx]  # (hp, wp, 3)
        hp, wp = sub.shape[0], sub.shape[1]
        if wp == 0 or hp == 0:
            continue
        flat = sub.reshape(hp, wp * 3)
        prev = np.zeros(wp * 3, np.uint8)
        for r in range(hp):
            ft = (p + r) % 5
            lines.append(bytes([ft]) + _filter_scanline(ft, flat[r], prev))
            prev = flat[r]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)
    png = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(lines), 6))
        + _png_chunk(b"IEND", b"")
    )
    if _PA7_BAD(media_id):
        return png[:33]
    return png


def _unfilter_scanline(ft: int, line, prev, bpp: int = 3):
    """Invert PNG filter ``ft`` for one scanline (``bpp`` = filter
    unit: 3 for truecolor, 1 for palette indices). None/Up are
    pure vector ops; Sub is a per-channel cumulative sum; Average and
    Paeth carry a left-pixel dependency, walked pixel-at-a-time (the
    spec-complete slow path — real-world encoders emit them, the
    fixture's hot path stays vectorized)."""
    import numpy as np

    f = line.astype(np.int64)
    up = prev.astype(np.int64)
    if ft == 0:
        return f % 256
    if ft == 1:  # raw[x] = filt[x] + raw[x-bpp]: cumsum per channel
        return np.cumsum(f.reshape(-1, bpp), axis=0).reshape(-1) % 256
    if ft == 2:
        return (f + up) % 256
    out = np.zeros_like(f)
    for x in range(len(f)):
        left = out[x - bpp] if x >= bpp else 0
        above = up[x]
        ul = up[x - bpp] if x >= bpp else 0
        if ft == 3:
            pred = (left + above) // 2
        elif ft == 4:
            p = left + above - ul
            pa, pb, pc = abs(p - left), abs(p - above), abs(p - ul)
            pred = left if pa <= pb and pa <= pc else (above if pb <= pc else ul)
        else:
            raise ValueError(f"bad filter {ft}")
        out[x] = (f[x] + pred) % 256
    return out


def _decode_png(b: bytes, inflate_fn=None):
    """Parse + inflate + unfilter an 8-bit truecolor PNG; returns
    (w, h, pixel ndarray[h, w, 3]) or raises ValueError on anything
    malformed (bad signature/CRC/dims, truncated chunk, wrong inflate
    size, unsupported color mode). ``inflate_fn`` swaps the IDAT
    decompressor (default stdlib zlib; the hand-codec query passes
    operators/inflate.py zlib_decompress)."""
    import struct
    import zlib

    import numpy as np

    if b[:8] != _PNG_SIG:
        raise ValueError("bad signature")
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 12 <= len(b):
        ln, ctype = struct.unpack_from(">I4s", b, pos)
        if pos + 12 + ln > len(b):
            raise ValueError("truncated chunk")
        data = b[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", b, pos + 8 + ln)
        if zlib.crc32(ctype + data) != crc:
            raise ValueError("crc mismatch")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            if len(data) % 3 or not 3 <= len(data) <= 768:
                raise ValueError("bad PLTE")
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    if (
        depth != 8
        or color not in (2, 3)
        or (comp, filt) != (0, 0)
        or interlace not in (0, 1)
    ):
        raise ValueError("unsupported PNG variant")
    if color == 3 and plte is None:
        raise ValueError("palette image missing PLTE")
    if color == 3 and interlace != 0:
        raise ValueError("interlaced palette unsupported")
    if not (0 < w <= 1 << 24 and 0 < h <= 1 << 24):
        raise ValueError("bad dims")
    rawz = (inflate_fn or zlib.decompress)(b"".join(idat))
    if color == 3:
        # palette image: 1 byte/pixel index raster, bpp=1 filters,
        # indices mapped through PLTE after unfiltering
        stride = 1 + w
        if len(rawz) != stride * h:
            raise ValueError("inflate size mismatch")
        idx = np.zeros((h, w), np.int64)
        prev = np.zeros(w, np.int64)
        for y in range(h):
            ft = rawz[y * stride]
            line = np.frombuffer(rawz, np.uint8, count=w, offset=y * stride + 1)
            prev = _unfilter_scanline(ft, line, prev, bpp=1)
            idx[y] = prev
        if idx.max(initial=0) >= len(plte):
            raise ValueError("palette index out of range")
        return w, h, plte[idx].astype(np.int64)
    px = np.zeros((h, w * 3), np.int64)
    if interlace == 0:
        stride = 1 + w * 3
        if len(rawz) != stride * h:
            raise ValueError("inflate size mismatch")
        prev = np.zeros(w * 3, np.int64)
        for y in range(h):
            ft = rawz[y * stride]
            line = np.frombuffer(rawz, np.uint8, count=w * 3, offset=y * stride + 1)
            prev = _unfilter_scanline(ft, line, prev)
            px[y] = prev
        return w, h, px.reshape(h, w, 3)
    # Adam7 (PNG spec §8.2): seven independent sub-images, each with
    # its own scanlines + filter bytes + fresh prior-line state; pixels
    # scatter back to (y0 + r*dy, x0 + c*dx). Empty passes (sub-image
    # width or height 0) contribute NO bytes, not even filter bytes.
    off = 0
    for x0, y0, dx, dy in _ADAM7:
        wp = (w - x0 + dx - 1) // dx
        hp = (h - y0 + dy - 1) // dy
        if wp <= 0 or hp <= 0:
            continue
        prev = np.zeros(wp * 3, np.int64)
        cols = (x0 + np.arange(wp) * dx) * 3
        for r in range(hp):
            if off + 1 + wp * 3 > len(rawz):
                raise ValueError("interlaced data short")
            ft = rawz[off]
            line = np.frombuffer(rawz, np.uint8, count=wp * 3, offset=off + 1)
            off += 1 + wp * 3
            prev = _unfilter_scanline(ft, line, prev)
            sub = prev.reshape(wp, 3)
            y = y0 + r * dy
            for ch in range(3):
                px[y, cols + ch] = sub[:, ch]
    if off != len(rawz):
        raise ValueError("interlaced size mismatch")
    return w, h, px.reshape(h, w, 3)


PNG_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_pixels", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def _png_pixels_walk(b: bytes, inflate_fn=None) -> dict:
    w, h, px = _decode_png(b, inflate_fn)
    sums = px.sum(axis=(0, 1))
    return {
        "width": w,
        "height": h,
        "n_pixels": w * h,
        "sum_r": int(sums[0]),
        "sum_g": int(sums[1]),
        "sum_b": int(sums[2]),
    }


def synthesize_png_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL zlib-compressed PNG blobs, one per
    doc_id (dims deterministic in the id; ids hitting ``_PNG_BAD`` are
    truncated-after-IHDR corrupt blobs with meta format 'corrupt')."""
    return synthesize_blobs(
        docs,
        _make_png,
        lambda i: blob_meta("corrupt" if _PNG_BAD(i) else "png", _PNG_W(i), _PNG_H(i)),
    )


def png_pixel_stats(df: DataFrame, inflate_fn=None) -> DataFrame:
    """REAL general-codec image decode over MEDIA_SCHEMA input: inflate
    the IDAT stream with stdlib zlib, undo the per-scanline filters
    (all five spec filters supported), and emit per-channel (RGB) pixel
    sums — the feature-extraction core of an image pipeline with zero
    codec libraries. Corrupt/unsupported blobs degrade to
    format='unknown' zeroed rows."""
    return blob_stats(
        df, lambda b: _png_pixels_walk(b, inflate_fn), PNG_SCHEMA, "png"
    )


PNG7_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_pixels", LongType()),
        StructField("sum_rgb", LongType()),
        StructField("pos_sum", LongType()),
    ]
)


def synthesize_png_adam7_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL Adam7-interlaced PNG blobs, one per
    doc_id; ids hitting ``_PA7_BAD`` truncated after IHDR."""
    return synthesize_blobs(
        docs,
        _make_png_adam7,
        lambda i: blob_meta("corrupt" if _PA7_BAD(i) else "png", _PA7_W(i), _PA7_H(i)),
    )


def png_adam7_stats(df: DataFrame) -> DataFrame:
    """Adam7-interlaced PNG decode to raster stats: total RGB sum plus
    a POSITION-WEIGHTED byte checksum (sum over raster index k of
    (k+1) * byte[k]) — pass scatter errors that happen to preserve the
    multiset of bytes cannot cancel out of the weighted sum (the same
    guard the interlaced-GIF query uses)."""
    import numpy as np

    def walk(b: bytes) -> dict:
        w, h, px = _decode_png(b)
        raster = px.reshape(-1)
        weights = np.arange(raster.size, dtype=np.int64) + 1
        return {
            "width": w,
            "height": h,
            "n_pixels": w * h,
            "sum_rgb": int(raster.sum()),
            "pos_sum": int((weights * raster).sum()),
        }

    return blob_stats(df, walk, PNG7_SCHEMA, "png")
