"""Windowed audio features over REAL WAV bytes.

Beyond-reference surface (BASELINE.json north star): the featurization
stage a speech/audio training pipeline runs after decode — fixed-size
frame windows, per-window signal energy, silence/clipping screens.
This is the audio sibling of ``image_channel_stats``
(operators/multimodal.py:550): real on-wire RIFF parsing, integer
math end-to-end so a DuckDB oracle recomputes every value blind from
the fixture LCG formulas.

Per media file, over non-overlapping windows of ``win`` frames (one
frame = one int16 sample per channel; a trailing partial window is
dropped, the hop-size convention of every STFT front end):

- ``n_windows``     — number of full windows
- ``total_energy``  — sum over all windowed samples of x^2
- ``max_energy``    — max per-window sum of x^2 (loudest window)
- ``n_clipped``     — count of windowed samples at int16 rails
  (|x| >= 32767) — the clipping screen used to drop corrupt-gain audio

Scale design (100 TB of audio): Arrow-batched mapInPandas, blobs
cross into Python once per batch, numpy reshape does the windowing —
output is 5 scalar columns per file, the only thing that shuffles.
Energy of a 16-bit sample fits 2^30; a window of 32 samples 2^35; an
hour of 48 kHz stereo ~2^58 — int64 is safe by a wide margin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    _wav_chunks,
    blob_meta,
    blob_stats,
    synthesize_blobs,
)

ENERGY_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_windows", LongType()),
        StructField("total_energy", LongType()),
        StructField("max_energy", LongType()),
        StructField("n_clipped", LongType()),
    ]
)


def _energy_walk(b: bytes, win: int) -> dict | None:
    """RIFF chunk walk then vectorized window energies; 8/16/24-bit PCM."""
    import numpy as np

    w = _wav_chunks(b)
    if w is None:
        return None
    _, ch, _, bits, data_pos, data_sz = w
    if not (
        ch > 0 and bits in (8, 16, 24) and data_pos and data_pos + data_sz <= len(b)
    ):
        return None
    bps = bits // 8
    nw = data_sz // (bps * ch) // win
    if nw == 0:
        return {"n_windows": 0}
    ns = nw * win * ch
    if bits == 16:
        arr = np.frombuffer(b, "<i2", offset=data_pos, count=ns).astype(np.int64)
    elif bits == 8:
        # WAV 8-bit PCM is UNSIGNED, 128-centered
        raw = np.frombuffer(b, np.uint8, offset=data_pos, count=ns)
        arr = raw.astype(np.int64) - 128
    else:  # 24-bit little-endian two's complement
        raw = np.frombuffer(
            b, np.uint8, offset=data_pos, count=3 * ns
        ).astype(np.int64).reshape(ns, 3)
        v = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        arr = v - ((v & 0x800000) << 1)
    rail = (1 << (bits - 1)) - 1
    energies = (arr * arr).reshape(nw, win * ch).sum(axis=1)
    return {
        "n_windows": int(nw),
        "total_energy": int(energies.sum()),
        "max_energy": int(energies.max()),
        "n_clipped": int((np.abs(arr) >= rail).sum()),
    }


def audio_window_energy(df: DataFrame, win: int = 16) -> DataFrame:
    """Windowed audio energy over MEDIA_SCHEMA input (see module doc).
    Non-WAV/corrupt blobs degrade to format='unknown', zeros."""
    return blob_stats(df, lambda b: _energy_walk(b, win), ENERGY_SCHEMA, "wav")


ZCR_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_frames", LongType()),
        StructField("n_zero_cross", LongType()),
        StructField("abs_sum", LongType()),
    ]
)


def _zcr_walk(b: bytes) -> dict | None:
    """Per-channel zero-crossing count + total absolute amplitude over
    ALL frames (no windowing/truncation — unlike the energy pass this
    uses the full data chunk). A crossing is a flip of the (x >= 0)
    sign bit between consecutive frames WITHIN a channel — the frame
    stride must deinterleave correctly or counts mismatch the oracle."""
    import numpy as np

    w = _wav_chunks(b)
    if w is None:
        return None
    _, ch, _, bits, data_pos, data_sz = w
    if not (ch > 0 and bits == 16 and data_pos and data_pos + data_sz <= len(b)):
        return None
    nf = data_sz // (2 * ch)
    if nf == 0:
        return {"n_frames": 0}
    arr = np.frombuffer(
        b, "<i2", offset=data_pos, count=nf * ch
    ).astype(np.int64).reshape(nf, ch)
    nonneg = arr >= 0
    return {
        "n_frames": int(nf),
        "n_zero_cross": int((nonneg[1:] != nonneg[:-1]).sum()),
        "abs_sum": int(np.abs(arr).sum()),
    }


def audio_zero_crossings(df: DataFrame) -> DataFrame:
    """Zero-crossing rate + absolute-amplitude screen over MEDIA_SCHEMA
    WAV blobs — the cheap voiced/unvoiced + silence heuristic an audio
    curation pipeline runs before any model-based filter. Same scale
    shape as audio_window_energy: 5 scalar columns out per file."""
    return blob_stats(df, _zcr_walk, ZCR_SCHEMA, "wav")


def synthesize_wav_depths(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL WAV blobs cycling bit depth by id:
    8-bit unsigned (i%3==0), 24-bit two's-complement little-endian
    (i%3==1), 16-bit (i%3==2). Sample k follows the shared LCG
    ``(i*13 + 5k) % 2^bits``, centered per depth, so a DuckDB oracle
    recomputes every energy integer blind with ONE formula
    parameterized by the modulus."""

    import numpy as np
    import struct

    def make(i: int) -> bytes:
        bits = {0: 8, 1: 24, 2: 16}[i % 3]
        ch = 1 + i % 2
        ns = 32 + i % 48
        sr = 8000
        u = (i * 13 + 5 * np.arange(ns * ch, dtype=np.int64)) % (1 << bits)
        if bits == 8:
            payload = u.astype(np.uint8).tobytes()
        elif bits == 16:
            payload = (u - 32768).astype("<i2").tobytes()
        else:
            # sample VALUE is u - 2^23; on-wire is its 24-bit two's
            # complement, i.e. (u - 2^23) mod 2^24 == u ^ 0x800000
            v = (u - (1 << 23)) & 0xFFFFFF
            raw = np.zeros((ns * ch, 3), np.uint8)
            raw[:, 0] = v & 0xFF
            raw[:, 1] = (v >> 8) & 0xFF
            raw[:, 2] = (v >> 16) & 0xFF
            payload = raw.tobytes()
        n = len(payload)
        bps = bits // 8
        return (
            struct.pack("<4sI4s", b"RIFF", 36 + n, b"WAVE")
            + struct.pack(
                "<4sIHHIIHH", b"fmt ", 16, 1, ch, sr,
                sr * ch * bps, ch * bps, bits,
            )
            + struct.pack("<4sI", b"data", n)
            + payload
        )

    return synthesize_blobs(docs, make, blob_meta("wav", sample_rate=8000))


ULAW_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_samples", LongType()),
        StructField("abs_sum", LongType()),
        StructField("energy", LongType()),
        StructField("max_abs", LongType()),
    ]
)


def _ulaw_lut():
    """G.711 mu-law expansion table (ITU-T G.711, Table 2a/2b; the
    classic C reference decode): u = ~byte; t = ((u & 0xF) << 3 + BIAS)
    << seg; sample = sign ? BIAS - t : t - BIAS, BIAS = 0x84 = 132.
    Peak decoded magnitude is 32124, not 32767 — a PCM-rail assumption
    here is the classic telephony-decode bug."""
    import numpy as np

    c = np.arange(256, dtype=np.int64)
    u = 255 - c  # ~c in 8 bits
    sign = u >> 7
    seg = (u >> 4) & 7
    man = u & 0xF
    t = ((man << 3) + 132) << seg
    return np.where(sign == 1, 132 - t, t - 132)


def _ulaw_walk(b: bytes) -> dict | None:
    """RIFF walk accepting ONLY WAVE_FORMAT_MULAW (fmt tag 7, 8-bit);
    anything else — PCM, truncated, foreign bytes — is refused."""
    import numpy as np

    w = _wav_chunks(b)
    if w is None:
        return None
    tag, ch, _, bits, data_pos, data_sz = w
    if not (
        tag == 7 and ch > 0 and bits == 8 and data_pos and data_pos + data_sz <= len(b)
    ):
        return None
    ns = data_sz  # one byte per sample
    if ns == 0:
        return {"n_samples": 0}
    dec = _ulaw_lut()[np.frombuffer(b, np.uint8, offset=data_pos, count=ns)]
    ab = np.abs(dec)
    return {
        "n_samples": int(ns),
        "abs_sum": int(ab.sum()),
        "energy": int((dec * dec).sum()),
        "max_abs": int(ab.max()),
    }


def audio_ulaw_stats(df: DataFrame) -> DataFrame:
    """G.711 mu-law decode + amplitude stats over MEDIA_SCHEMA blobs —
    the telephony-audio leg of the decode surface (8 kHz call-center /
    voicemail corpora arrive mu-law-companded, not linear PCM). Same
    scale shape as audio_window_energy: 6 scalar columns out per file."""
    return blob_stats(df, _ulaw_walk, ULAW_SCHEMA, "ulaw")


def synthesize_wav_ulaw(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL mu-law WAV blobs (fmt tag 7, 8-bit):
    companded byte k is the LCG ``(i*29 + 11k) % 256`` so a DuckDB
    oracle expands every sample blind through the same G.711 integer
    formula. Every 13th id is truncated mid-header — the honest
    corrupt-row stripe that must degrade to 'unknown'."""

    import numpy as np
    import struct

    def make(i: int) -> bytes:
        ch = 1 + i % 2
        ns = 24 + i % 40  # samples per channel
        n = ns * ch
        payload = (
            (i * 29 + 11 * np.arange(n, dtype=np.int64)) % 256
        ).astype(np.uint8).tobytes()
        sr = 8000
        blob = (
            struct.pack("<4sI4s", b"RIFF", 36 + n, b"WAVE")
            + struct.pack(
                "<4sIHHIIHH", b"fmt ", 16, 7, ch, sr, sr * ch, ch, 8
            )
            + struct.pack("<4sI", b"data", n)
            + payload
        )
        return blob[:20] if i % 13 == 0 else blob

    return synthesize_blobs(docs, make, blob_meta("wav", sample_rate=8000))


# IMA ADPCM step-size table (IMA Digital Audio Pack 1992 / Microsoft
# WAVE_FORMAT_IMA_ADPCM tag 0x11) — 89 entries, public standard
IMA_STEP = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)

ADPCM_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_samples", LongType()),
        StructField("abs_sum", LongType()),
        StructField("energy", LongType()),
        StructField("final_pred", LongType()),
        StructField("final_idx", LongType()),
    ]
)


def _adpcm_decode_block(b: bytes, off: int, nb: int, samples: list[int]) -> int:
    """One IMA-ADPCM mono block: 4-byte header (int16 predictor, step
    index, reserved) + nb data bytes, LOW nibble first. The predictor
    and step index evolve PER SAMPLE — unlike every other codec in
    this package the state is serial, which is exactly what the
    list_reduce oracle exercises. Returns the final step index."""
    pred = int.from_bytes(b[off : off + 2], "little", signed=True)
    idx = b[off + 2]
    if idx > 88:
        raise ValueError("bad step index")
    samples.append(pred)
    pos = off + 4
    for j in range(nb):
        byte = b[pos + j]
        for nib in (byte & 0xF, byte >> 4):
            step = IMA_STEP[idx]
            mag = nib & 7
            diff = (step >> 3)
            if mag & 4:
                diff += step
            if mag & 2:
                diff += step >> 1
            if mag & 1:
                diff += step >> 2
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx += -1 if mag < 4 else (mag - 3) * 2
            idx = max(0, min(88, idx))
            samples.append(pred)
    return idx


def _adpcm_walk(b: bytes) -> dict | None:
    """RIFF walk accepting ONLY WAVE_FORMAT_IMA_ADPCM (tag 0x11, 4-bit,
    MONO); anything else is refused. Multi-block data decodes
    block-by-block at block_align stride."""
    w = _wav_chunks(b)
    if w is None:
        return None
    tag, ch, balign, bits, data_pos, data_sz = w
    if not (
        tag == 0x11
        and ch == 1
        and bits == 4
        and balign >= 5
        and data_pos
        and data_pos + data_sz <= len(b)
        and data_sz % balign == 0
    ):
        return None
    samples: list[int] = []
    idx = 0
    for boff in range(data_pos, data_pos + data_sz, balign):
        idx = _adpcm_decode_block(b, boff, balign - 4, samples)
    return {
        "n_samples": len(samples),
        "abs_sum": int(sum(abs(s) for s in samples)),
        "energy": int(sum(s * s for s in samples)),
        "final_pred": int(samples[-1]),
        "final_idx": int(idx),
    }


def audio_adpcm_stats(df: DataFrame) -> DataFrame:
    """IMA ADPCM decode + amplitude stats over MEDIA_SCHEMA blobs — the
    PREDICTIVE-codec leg of the decode surface (4:1-compressed speech;
    the decoder carries per-sample adaptive state, so any nibble-order,
    clamp, or step-table error compounds and is caught by the
    final_pred/final_idx checksums)."""
    return blob_stats(df, _adpcm_walk, ADPCM_SCHEMA, "adpcm")


def synthesize_wav_adpcm(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL single-block IMA-ADPCM WAV blobs:
    header predictor ((i*37)%4096 - 2048), step index ((i*5)%89), and
    nibble k = (i*13 + 7k)%16 are all LCG formulas so a DuckDB oracle
    replays the ENTIRE adaptive decode blind via list_reduce. Every
    17th id is truncated mid-header -> 'unknown'."""

    import struct

    def make(i: int) -> bytes:
        pred0 = ((i * 37) % 4096) - 2048
        idx0 = (i * 5) % 89
        nb = 20 + i % 12
        nibs = [(i * 13 + 7 * k) % 16 for k in range(2 * nb)]
        data = struct.pack("<hBB", pred0, idx0, 0) + bytes(
            nibs[2 * j] | (nibs[2 * j + 1] << 4) for j in range(nb)
        )
        balign = 4 + nb
        spb = 1 + 2 * nb
        sr = 8000
        blob = (
            struct.pack("<4sI4s", b"RIFF", 40 + len(data), b"WAVE")
            + struct.pack(
                "<4sIHHIIHHHH",
                b"fmt ", 20, 0x11, 1, sr,
                sr * balign // spb, balign, 4, 2, spb,
            )
            + struct.pack("<4sI", b"data", len(data))
            + data
        )
        return blob[:30] if i % 17 == 0 else blob

    return synthesize_blobs(docs, make, blob_meta("wav", sample_rate=8000))
