"""LZ4 decoding from scratch (Collet's public block + frame specs,
lz4.github.io/lz4) — the speed-first member of the codec family,
and parquet's LZ4_RAW page codec (thrift id 7). With this the repo
hand-decodes every parquet codec in practical use: UNCOMPRESSED,
SNAPPY, GZIP, ZSTD, LZ4_RAW.

Block format: a stream of sequences — token byte (high nibble =
literal length, low nibble = match length - 4, 15 = more length
bytes follow, 255-saturated), literal run, 2-byte little-endian
match offset (0 is invalid), match extension bytes; the final
sequence carries literals only. Overlapping matches extend
byte-by-byte (the LZ77 RLE trick shared with Snappy/zstd).

Frame format: magic 0x184D2204, FLG/BD descriptor whose HC byte is
``(XXH32(descriptor) >> 8) & 0xFF`` — verifying it on frames the
REFERENCE encoder wrote cross-checks the from-scratch XXH32 —
then data blocks (31-bit size, high bit = stored-uncompressed),
optional per-block and whole-content XXH32 checksums, skippable
frames, and multi-frame concatenation.

Reference coders (pyarrow's bundled lz4, the lz4 CLI) appear in
tests and fixture synthesis only. Every grammar violation raises
ValueError; callers degrade the row.
"""

from __future__ import annotations

import struct

_FRAME_MAGIC = 0x184D2204
_SKIP_MAGIC_MASK = 0xFFFFFFF0
_SKIP_MAGIC = 0x184D2A50


def lz4_block_decompress(
    data: bytes, max_out: int | None = None, history: bytes = b""
) -> bytes:
    """One raw LZ4 block -> bytes; strict bounds/offset checks.
    ``history`` is the linked-block window (the previous frame
    output, up to 64 KiB) matches may reach back into — frames are
    block-LINKED unless FLG.B.Indep is set, and the reference
    encoder writes linked frames."""
    out = bytearray()
    hist = len(history)
    pos, n = 0, len(data)
    if n == 0:
        return b""
    while pos < n:
        token = data[pos]
        pos += 1
        ll = token >> 4
        if ll == 15:
            while True:
                if pos >= n:
                    raise ValueError("lz4: truncated literal length")
                b = data[pos]
                pos += 1
                ll += b
                if b != 255:
                    break
        if pos + ll > n:
            raise ValueError("lz4: literal run overruns input")
        out += data[pos : pos + ll]
        pos += ll
        if max_out is not None and len(out) > max_out:
            raise ValueError("lz4: output exceeds declared size")
        if pos == n:
            break  # final sequence: literals only
        if pos + 2 > n:
            raise ValueError("lz4: truncated match offset")
        offset = data[pos] | (data[pos + 1] << 8)
        pos += 2
        if offset == 0:
            raise ValueError("lz4: zero match offset")
        ml = (token & 0x0F) + 4
        if token & 0x0F == 15:
            while True:
                if pos >= n:
                    raise ValueError("lz4: truncated match length")
                b = data[pos]
                pos += 1
                ml += b
                if b != 255:
                    break
        if offset > len(out) + hist:
            raise ValueError("lz4: match before stream start")
        if offset > len(out):  # reaches into the linked-block window
            take = min(ml, offset - len(out))
            h0 = hist - (offset - len(out))
            out += history[h0 : h0 + take]
            ml -= take
            # if ml remains, take == offset - len(out)-before-copy, so the
            # copy advanced len(out) to exactly `offset`: distance is correct
            assert not ml or offset == len(out)
        if ml:
            start = len(out) - offset
            if offset >= ml:
                out += out[start : start + ml]
            else:  # overlapping copy (RLE-style) extends byte-by-byte
                for k in range(ml):
                    out.append(out[start + k])
        if max_out is not None and len(out) > max_out:
            raise ValueError("lz4: output exceeds declared size")
    return bytes(out)


# ---------------------------------------------------------------------------
# XXH32 (Collet, public domain reference) — LZ4's frame checksums.
# ---------------------------------------------------------------------------

_P1 = 2654435761
_P2 = 2246822519
_P3 = 3266489917
_P4 = 668265263
_P5 = 374761393
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M32
        v2 = (seed + _P2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P1) & _M32
        while i + 16 <= n:
            for j, v in enumerate((v1, v2, v3, v4)):
                lane = int.from_bytes(
                    data[i + 4 * j : i + 4 * j + 4], "little"
                )
                v = (v + lane * _P2) & _M32
                v = (_rotl32(v, 13) * _P1) & _M32
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 16
        h = (
            _rotl32(v1, 1) + _rotl32(v2, 7)
            + _rotl32(v3, 12) + _rotl32(v4, 18)
        ) & _M32
    else:
        h = (seed + _P5) & _M32
    h = (h + n) & _M32
    while i + 4 <= n:
        k = (int.from_bytes(data[i : i + 4], "little") * _P3) & _M32
        h = (_rotl32((h + k) & _M32, 17) * _P4) & _M32
        i += 4
    while i < n:
        k = (data[i] * _P5) & _M32
        h = (_rotl32((h + k) & _M32, 11) * _P1) & _M32
        i += 1
    h ^= h >> 15
    h = (h * _P2) & _M32
    h ^= h >> 13
    h = (h * _P3) & _M32
    h ^= h >> 16
    return h


# ---------------------------------------------------------------------------
# Frame walk
# ---------------------------------------------------------------------------

_BD_SIZES = {4: 1 << 16, 5: 1 << 18, 6: 1 << 20, 7: 1 << 22}


def iter_lz4_frames(data: bytes):
    """Concatenated LZ4 frames -> yields ``(payload, had_content
    _checksum)`` per content frame, ``(None, False)`` per skippable.
    Verifies the descriptor's HC byte, block checksums, content size
    and content checksum when present."""
    pos = 0
    if not data:
        raise ValueError("lz4: empty input")
    while pos < len(data):
        if pos + 4 > len(data):
            raise ValueError("lz4: truncated magic")
        (magic,) = struct.unpack_from("<I", data, pos)
        if (magic & _SKIP_MAGIC_MASK) == _SKIP_MAGIC:
            if pos + 8 > len(data):
                raise ValueError("lz4: truncated skippable frame")
            (fsz,) = struct.unpack_from("<I", data, pos + 4)
            pos += 8 + fsz
            if pos > len(data):
                raise ValueError("lz4: skippable frame overruns")
            yield None, False
            continue
        if magic != _FRAME_MAGIC:
            raise ValueError("lz4: bad magic")
        pos += 4
        desc_start = pos
        if pos + 2 > len(data):
            raise ValueError("lz4: truncated frame descriptor")
        flg, bd = data[pos], data[pos + 1]
        pos += 2
        if (flg >> 6) != 1:
            raise ValueError("lz4: unsupported frame version")
        if flg & 0x02:
            raise ValueError("lz4: reserved FLG bit set")
        b_checksum = bool(flg & 0x10)
        c_size = bool(flg & 0x08)
        c_checksum = bool(flg & 0x04)
        dict_id = bool(flg & 0x01)
        if bd & 0x8F:
            raise ValueError("lz4: reserved BD bits set")
        bmax = _BD_SIZES.get(bd >> 4)
        if bmax is None:
            raise ValueError("lz4: bad block max size code")
        expect = None
        if c_size:
            if pos + 8 > len(data):
                raise ValueError("lz4: truncated content size")
            (expect,) = struct.unpack_from("<Q", data, pos)
            pos += 8
        if dict_id:
            raise ValueError("lz4: dictionaries not supported")
        if pos >= len(data):
            raise ValueError("lz4: missing header checksum")
        hc = data[pos]
        pos += 1
        if (xxh32(data[desc_start : pos - 1]) >> 8) & 0xFF != hc:
            raise ValueError("lz4: header checksum mismatch")
        out = bytearray()
        while True:
            if pos + 4 > len(data):
                raise ValueError("lz4: truncated block size")
            (bword,) = struct.unpack_from("<I", data, pos)
            pos += 4
            if bword == 0:  # EndMark
                break
            stored = bool(bword & 0x80000000)
            bsize = bword & 0x7FFFFFFF
            if bsize > bmax:
                raise ValueError("lz4: block exceeds declared max")
            if pos + bsize > len(data):
                raise ValueError("lz4: block overruns input")
            block = data[pos : pos + bsize]
            pos += bsize
            if b_checksum:
                if pos + 4 > len(data):
                    raise ValueError("lz4: truncated block checksum")
                (want,) = struct.unpack_from("<I", data, pos)
                pos += 4
                if xxh32(block) != want:
                    raise ValueError("lz4: block checksum mismatch")
            if stored:
                out += block
            else:
                out += lz4_block_decompress(
                    block, bmax, history=bytes(out[-65536:])
                )
        if expect is not None and len(out) != expect:
            raise ValueError("lz4: content size mismatch")
        if c_checksum:
            if pos + 4 > len(data):
                raise ValueError("lz4: truncated content checksum")
            (want,) = struct.unpack_from("<I", data, pos)
            pos += 4
            if xxh32(bytes(out)) != want:
                raise ValueError("lz4: content checksum mismatch")
        yield bytes(out), c_checksum


def lz4_frame_decompress(data: bytes) -> bytes:
    return b"".join(
        payload for payload, _ in iter_lz4_frames(data)
        if payload is not None
    )


def add_lz4_content_checksum(frame: bytes) -> bytes:
    """Set a frame's Content-Checksum flag (recomputing the HC byte)
    and append XXH32 of the content — the fixture helper that makes
    the decoder's checksum path exercisable with frames the
    reference encoder writes without one."""
    if len(frame) < 7 or struct.unpack_from("<I", frame, 0)[0] != _FRAME_MAGIC:
        raise ValueError("not an lz4 frame")
    flg = frame[4]
    if flg & 0x04:
        raise ValueError("frame already checksummed")
    if flg & 0x08:
        raise ValueError("content-size frames not handled here")
    content = lz4_frame_decompress(frame)
    new_desc = bytes([flg | 0x04, frame[5]])
    hc = (xxh32(new_desc) >> 8) & 0xFF
    return (
        frame[:4]
        + new_desc
        + bytes([hc])
        + frame[7:]
        + struct.pack("<I", xxh32(content))
    )


# ---------------------------------------------------------------------------
# Spark surface + fixtures (mirrors operators/zstd.py)
# ---------------------------------------------------------------------------


def lz4_stream_stats_one(data: bytes) -> dict | None:
    try:
        n_frames = n_checksummed = n_skippable = 0
        total = psum = 0
        for payload, checked in iter_lz4_frames(data):
            if payload is None:
                n_skippable += 1
                continue
            n_frames += 1
            n_checksummed += int(checked)
            total += len(payload)
            psum += sum(payload)
        return {
            "n_frames": n_frames,
            "n_checksummed": n_checksummed,
            "n_skippable": n_skippable,
            "decoded_len": total,
            "payload_sum": psum,
        }
    except ValueError:
        return None


def lz4_frame_stats(df):
    """Frame-walk stats over MEDIA_SCHEMA blobs."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from gmall_flink_210726_spark.operators.multimodal import blob_stats

    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("format", StringType()),
            StructField("n_frames", LongType()),
            StructField("n_checksummed", LongType()),
            StructField("n_skippable", LongType()),
            StructField("decoded_len", LongType()),
            StructField("payload_sum", LongType()),
        ]
    )
    return blob_stats(df, lz4_stream_stats_one, schema, "lz4")


def _run_text_l(i: int, j: int, size: int) -> bytes:
    """Stateless-run formula family (operators/inflate.py _run_text):
    oracle-recomputable byte sums, LZ77-compressible runs."""
    return bytes(
        97 + ((i * 7 + 13 * j + (k // 5) * 11) % 7) for k in range(size)
    )


def _make_lz4_stream(i: int) -> bytes:
    """``1 + i % 3`` LZ4 frames (the reference encoder's linked-block
    frames), frame j compressing run text of length ``220 + (i * 41
    + 31 * j) % 700``; odd j frames get a content checksum added
    (XXH32 on both sides — and every frame's HC byte already proves
    the hand XXH32 against the reference encoder). Every 5th id is
    prefixed with a skippable frame. Every 9th id force-checksums
    all frames then XORs the LAST frame's middle byte — degrade is
    deterministic, never a silent wrong decode."""
    import pyarrow as pa

    codec = pa.Codec("lz4")
    n = 1 + i % 3
    bad = i % 9 == 0
    parts = []
    if i % 5 == 0:
        pad = bytes(4 + i % 8)
        parts.append(struct.pack("<II", _SKIP_MAGIC, len(pad)) + pad)
    for j in range(n):
        frame = bytes(
            codec.compress(_run_text_l(i, j, 220 + (i * 41 + 31 * j) % 700))
        )
        if bad or j % 2 == 1:
            frame = add_lz4_content_checksum(frame)
        parts.append(frame)
    if bad:
        last = bytearray(parts[-1])
        last[len(last) // 2] ^= 0x55
        parts[-1] = bytes(last)
    return b"".join(parts)


def synthesize_lz4_media(docs):
    """MEDIA_SCHEMA table of concatenated LZ4 frames."""
    from gmall_flink_210726_spark.operators.multimodal import (
        blob_meta,
        synthesize_blobs,
    )

    return synthesize_blobs(docs, _make_lz4_stream, blob_meta("lz4"))
