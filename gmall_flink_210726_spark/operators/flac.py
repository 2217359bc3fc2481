"""FLAC decode from scratch (RFC 9639 / xiph.org FLAC format) — the
remaining common audio-corpus format after WAV / µ-law / ADPCM / MP3
(operators/audio.py, operators/mp3.py): STREAMINFO, frame headers
with CRC-8, subframes (CONSTANT / VERBATIM / FIXED orders 0-4 / LPC),
Rice-coded residuals with partitioned parameters and the raw-bits
escape, left/side stereo decorrelation, per-frame CRC-16, and the
STREAMINFO MD5 of the decoded PCM as the end-to-end proof.

No FLAC encoder ships in the container, so fixtures are written by a
deliberately separate minimal encoder in this module and the decoder
is validated the L115 way (synthesize-then-verify): the CRC-8
(poly 0x07) and CRC-16 (poly 0x8005, init 0) implementations are
pinned on the published '123456789' check values (0xF4 /
CRC-16-BUYPASS 0xFEE8), bit-exact sample recovery is proven against
the generating formula, and the MD5 rung uses stdlib hashlib over
the interleaved little-endian PCM exactly as the spec defines.

Trust chain: a frame-header CRC-8 or frame CRC-16 that disagrees
refuses; decoded totals must equal STREAMINFO's total-samples books;
the MD5 of the actually-decoded PCM must equal STREAMINFO's claim.
Arrow-batched ``mapInPandas``, zero shuffle.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.wire import (
    MsbReader,
    MsbWriter,
    unzigzag,
)

# CRC-8, polynomial 0x07, init 0 (FLAC frame-header checksum)
_CRC8_TABLE = []
for _n in range(256):
    _c = _n
    for _ in range(8):
        _c = ((_c << 1) ^ 0x07 if _c & 0x80 else _c << 1) & 0xFF
    _CRC8_TABLE.append(_c)

# CRC-16, polynomial 0x8005, init 0, not reflected (FLAC frame crc)
_CRC16_TABLE = []
for _n in range(256):
    _c = _n << 8
    for _ in range(8):
        _c = ((_c << 1) ^ 0x8005 if _c & 0x8000 else _c << 1) & 0xFFFF
    _CRC16_TABLE.append(_c)


def crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC8_TABLE[c ^ b]
    return c


def crc16(data: bytes) -> int:
    c = 0
    for b in data:
        c = ((c << 8) & 0xFFFF) ^ _CRC16_TABLE[((c >> 8) ^ b) & 0xFF]
    return c


def _zigzag(e: int) -> int:
    return (e << 1) ^ (e >> 63) if e >= 0 else ((-e) << 1) - 1


_FIXED_COEFFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _utf8_number_enc(v: int) -> bytes:
    if v < 0x80:
        return bytes([v])
    out = []
    nbytes = 2
    # an n-byte coded number carries (7 - n) lead bits + 6*(n - 1)
    # continuation bits = 5n + 1 value bits
    while v >= (1 << (5 * nbytes + 1)):
        nbytes += 1
    # lead byte: nbytes ones, a zero, then the high value bits
    lead_bits = 7 - nbytes
    shift = 6 * (nbytes - 1)
    lead = ((0xFF << (lead_bits + 1)) & 0xFF) | (v >> shift)
    out.append(lead)
    for k in range(nbytes - 1):
        shift -= 6
        out.append(0x80 | ((v >> shift) & 0x3F))
    return bytes(out)


def _utf8_number_dec(r: MsbReader) -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    m = b0
    while m & 0x80:
        n += 1
        m = (m << 1) & 0xFF
    if n < 2 or n > 7:
        raise ValueError("flac: bad coded number")
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        b = r.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("flac: bad coded-number continuation")
        v = (v << 6) | (b & 0x3F)
    return v


# --------------------------------------------------------------------------
# Decoder
# --------------------------------------------------------------------------

_SAMPLE_SIZE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}
_SAMPLE_SIZE_CODE = {v: k for k, v in _SAMPLE_SIZE.items()}


def _pcm_md5_py(channels_pcm: list[list[int]], bps: int) -> bytes:
    """MD5 of the interleaved little-endian PCM exactly as STREAMINFO
    defines it — the from-spec scalar form, kept as the executable
    documentation and the fallback for values outside int64."""
    md5 = hashlib.md5()
    step = (bps + 7) // 8
    mask = (1 << (8 * step)) - 1
    total = len(channels_pcm[0]) if channels_pcm else 0
    for k in range(total):
        for c in range(len(channels_pcm)):
            md5.update((channels_pcm[c][k] & mask).to_bytes(step, "little"))
    return md5.digest()


def _pcm_md5(channels_pcm, bps: int) -> bytes:
    """Vectorized _pcm_md5_py (optimization round 15, guide §4.2): one
    numpy interleave + mask builds the exact byte stream the scalar
    loop feeds MD5 per sample; pinned equal in
    tests/test_codec_fastpaths.py. Accepts lists or int64 arrays;
    values outside int64 (adversarial decode fallback shapes) route to
    the scalar loop, whose & mask arithmetic is arbitrary-precision."""
    step = (bps + 7) // 8
    total = len(channels_pcm[0]) if len(channels_pcm) else 0
    if total == 0 or step > 4:
        return _pcm_md5_py(channels_pcm, bps)
    try:
        arrs = [np.asarray(c, dtype=np.int64) for c in channels_pcm]
    except OverflowError:
        return _pcm_md5_py(channels_pcm, bps)
    mask = (1 << (8 * step)) - 1
    stacked = np.stack(arrs, axis=1) & np.int64(mask)
    if step == 1:
        buf = stacked.astype(np.uint8)
    elif step == 2:
        buf = stacked.astype("<u2")
    elif step == 4:
        buf = stacked.astype("<u4")
    else:  # step == 3: low 3 of 4 little-endian bytes per sample
        buf = (
            stacked.astype("<u4")
            .view(np.uint8)
            .reshape(total, len(arrs), 4)[:, :, :3]
        )
    md5 = hashlib.md5()
    md5.update(buf.tobytes())
    return md5.digest()


def _residual_dec_py(
    r: MsbReader, blocksize: int, order: int
) -> list[int]:
    """From-spec scalar residual decode — the executable documentation
    and the differential-test reference for ``_residual_dec``."""
    method = r.read(2)
    if method > 1:
        raise ValueError("flac: reserved residual method")
    pbits = 4 if method == 0 else 5
    esc = (1 << pbits) - 1
    po = r.read(4)
    parts = 1 << po
    if blocksize % parts or blocksize // parts <= order and po:
        raise ValueError("flac: bad partition order")
    out: list[int] = []
    for p in range(parts):
        cnt = blocksize // parts - (order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("flac: partition smaller than order")
        param = r.read(pbits)
        if param == esc:
            nraw = r.read(5)
            for _ in range(cnt):
                out.append(r.read_signed(nraw) if nraw else 0)
        else:
            for _ in range(cnt):
                q = r.read_unary()
                u = (q << param) | r.read(param)
                out.append(unzigzag(u))
    return out


class _Fallback(Exception):
    """Raised by a vectorized decode helper when an int64-exactness
    guard trips; read_flac reruns the whole blob on the scalar path."""


def _take_signed_np(r: MsbReader, count: int, width: int):
    """``count`` two's-complement values of ``width`` bits from the
    reader's bit position, as int64; advances the reader."""
    vals = r.take_np(count, width).astype(np.int64)
    if width:
        vals -= (vals >> np.int64(width - 1)) << np.int64(width)
    return vals


def _rice_vec(r: MsbReader, cnt: int, param: int):
    """Vectorized rice decode: ``cnt`` unary-quotient + ``param``-bit
    remainder codes from the reader's position, zigzag-decoded to
    int64; advances the reader. The unary terminators are located by
    chasing a precomputed next-one-bit table (one searchsorted over the
    chunk's 1-bit positions), remainders gathered in one fancy-indexed
    matmul; the chunk is re-unpacked at twice the size whenever the
    run does not fit (rare: quotients are ~1 bit each on genuine
    streams). Raises the scalar path's ValueErrors on truncation and
    runaway unary. Exact: u < 2^51 (q <= 2^20, param <= 30)."""
    if cnt == 0:
        return np.zeros(0, np.int64)
    data = r.data
    nbits_total = len(data) * 8
    start = r.pos * 8 + r.bit
    need = cnt * (param + 2) + 64
    while True:
        end = min(start + need, nbits_total)
        sb = start // 8
        chunk = np.frombuffer(
            data, np.uint8, (end + 7) // 8 - sb, sb
        )
        off = start - sb * 8
        seg = np.unpackbits(chunk)[off : off + (end - start)]
        ones = np.flatnonzero(seg)
        if len(ones):
            nxt = np.searchsorted(ones, ones + 1 + param).tolist()
            ones_l = ones.tolist()
            nones = len(ones_l)
            terms: list[int] = []
            j = 0
            for _ in range(cnt):
                if j >= nones:
                    break
                terms.append(ones_l[j])
                j = nxt[j]
            if len(terms) == cnt and terms[-1] + 1 + param <= len(seg):
                ta = np.asarray(terms, np.int64)
                starts = np.empty(cnt, np.int64)
                starts[0] = 0
                starts[1:] = ta[:-1] + 1 + param
                q = ta - starts
                if int(q.max()) > 1 << 20:
                    raise ValueError("flac: runaway unary")
                u = q.astype(np.uint64) << np.uint64(param)
                if param:
                    idx = ta[:, None] + 1 + np.arange(param)
                    w = np.left_shift(
                        np.uint64(1),
                        np.arange(param - 1, -1, -1, dtype=np.uint64),
                    )
                    u |= seg[idx].astype(np.uint64) @ w
                vals = (
                    (u >> np.uint64(1))
                    ^ (np.uint64(0) - (u & np.uint64(1)))
                ).view(np.int64)
                endbit = start + int(ta[-1]) + 1 + param
                r.pos, r.bit = endbit // 8, endbit % 8
                return vals
        if end >= nbits_total:
            raise ValueError("flac: bitstream truncated")
        need *= 2


def _residual_dec(r: MsbReader, blocksize: int, order: int):
    """Vectorized residual decode (optimization round 15, guide §4.2)
    -> int64 array; header parsing and every grammar check match
    ``_residual_dec_py``, which is pinned equal to this path in
    tests/test_codec_fastpaths.py."""
    method = r.read(2)
    if method > 1:
        raise ValueError("flac: reserved residual method")
    pbits = 4 if method == 0 else 5
    esc = (1 << pbits) - 1
    po = r.read(4)
    parts = 1 << po
    if blocksize % parts or blocksize // parts <= order and po:
        raise ValueError("flac: bad partition order")
    pieces = []
    for p in range(parts):
        cnt = blocksize // parts - (order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("flac: partition smaller than order")
        param = r.read(pbits)
        if param == esc:
            nraw = r.read(5)
            pieces.append(_take_signed_np(r, cnt, nraw))
        else:
            pieces.append(_rice_vec(r, cnt, param))
    if not pieces:
        return np.zeros(0, np.int64)
    return np.concatenate(pieces)


def _predict_apply(
    warm: list[int], resid: list[int], coeffs: list[int], shift: int
) -> list[int]:
    x = list(warm)
    o = len(coeffs)
    for e in resid:
        pred = sum(c * x[-1 - j] for j, c in enumerate(coeffs))
        x.append(e + (pred >> shift))
    return x


_SAFE_ABS = 1 << 61  # int64 headroom for one add/subtract on top


def _predict_apply_np(warm, resid, coeffs: list[int], shift: int):
    """Vectorized _predict_apply (optimization round 15, guide §4.2):
    the FIXED predictors (and any LPC whose coefficients equal one,
    shift 0) are k-th difference operators, so reconstruction is k
    warm-started cumulative sums — exact in int64 under a per-level
    magnitude guard (partial sums bounded by max|val| * (n+1)); guard
    trips and non-difference LPC shapes run the scalar recursion on
    Python ints, raising _Fallback if the result leaves int64. Pinned
    equal to _predict_apply in tests/test_codec_fastpaths.py."""
    k = len(coeffs)
    warm = np.asarray(warm, np.int64)
    if k == 0:
        x = np.concatenate([warm, resid]) if len(warm) else resid
        if len(x) and int(np.abs(x).max()) >= _SAFE_ABS:
            raise _Fallback
        return x
    if shift == 0 and coeffs == _FIXED_COEFFS.get(k):
        diffs = [warm]
        for _ in range(1, k):
            diffs.append(np.diff(diffs[-1]))
        cur = resid
        n1 = len(resid) + 1
        ok = True
        for j in range(k, 0, -1):
            init = int(diffs[j - 1][-1])
            m = max(
                abs(init),
                int(np.abs(cur).max()) if len(cur) else 0,
            )
            if m > (1 << 62) // n1:
                ok = False
                break
            cur = init + np.cumsum(cur) if len(cur) else cur
        if ok:
            x = np.concatenate([warm, cur])
            if len(x) and int(np.abs(x).max()) >= _SAFE_ABS:
                raise _Fallback
            return x
    xs = _predict_apply(
        [int(v) for v in warm], [int(v) for v in resid], coeffs, shift
    )
    if any(abs(v) >= _SAFE_ABS for v in xs):
        raise _Fallback
    return np.asarray(xs, np.int64)


def _subframe_dec_py(r: MsbReader, n: int, bits: int) -> list[int]:
    """From-spec scalar subframe decode (lists, arbitrary-precision
    ints) — the executable documentation, the _Fallback target, and
    the differential-test reference for ``_subframe_dec``."""
    if r.read(1):
        raise ValueError("flac: subframe padding bit set")
    t = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
    eff = bits - wasted
    if eff <= 0:
        raise ValueError("flac: wasted bits exhaust the sample")
    if t == 0:  # CONSTANT
        v = r.read_signed(eff)
        x = [v] * n
    elif t == 1:  # VERBATIM
        x = [r.read_signed(eff) for _ in range(n)]
    elif 8 <= t <= 12:  # FIXED
        order = t - 8
        if order > n:
            raise ValueError("flac: order exceeds blocksize")
        warm = [r.read_signed(eff) for _ in range(order)]
        resid = _residual_dec_py(r, n, order)
        x = _predict_apply(warm, resid, _FIXED_COEFFS[order], 0)
    elif t & 0x20:  # LPC
        order = (t & 0x1F) + 1
        if order > n:
            raise ValueError("flac: order exceeds blocksize")
        warm = [r.read_signed(eff) for _ in range(order)]
        prec = r.read(4)
        if prec == 0xF:
            raise ValueError("flac: invalid qlp precision")
        prec += 1
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("flac: negative qlp shift")
        coeffs = [r.read_signed(prec) for _ in range(order)]
        resid = _residual_dec_py(r, n, order)
        x = _predict_apply(warm, resid, coeffs, shift)
    else:
        raise ValueError("flac: reserved subframe type")
    if wasted:
        x = [v << wasted for v in x]
    return x


def _subframe_dec(r: MsbReader, n: int, bits: int):
    """Vectorized subframe decode (optimization round 15, guide §4.2)
    -> int64 array; same header walk and grammar checks as
    ``_subframe_dec_py``, with the residual/verbatim bit streams and
    predictor reconstruction handed to numpy. Raises _Fallback when an
    int64-exactness guard trips (read_flac then reruns the blob on the
    scalar path). Pinned equal to the scalar path in
    tests/test_codec_fastpaths.py."""
    if r.read(1):
        raise ValueError("flac: subframe padding bit set")
    t = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
    eff = bits - wasted
    if eff <= 0:
        raise ValueError("flac: wasted bits exhaust the sample")
    if t == 0:  # CONSTANT
        x = np.full(n, r.read_signed(eff), np.int64)
    elif t == 1:  # VERBATIM
        x = _take_signed_np(r, n, eff)
    elif 8 <= t <= 12:  # FIXED
        order = t - 8
        if order > n:
            raise ValueError("flac: order exceeds blocksize")
        warm = [r.read_signed(eff) for _ in range(order)]
        resid = _residual_dec(r, n, order)
        x = _predict_apply_np(warm, resid, _FIXED_COEFFS[order], 0)
    elif t & 0x20:  # LPC
        order = (t & 0x1F) + 1
        if order > n:
            raise ValueError("flac: order exceeds blocksize")
        warm = [r.read_signed(eff) for _ in range(order)]
        prec = r.read(4)
        if prec == 0xF:
            raise ValueError("flac: invalid qlp precision")
        prec += 1
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("flac: negative qlp shift")
        coeffs = [r.read_signed(prec) for _ in range(order)]
        resid = _residual_dec(r, n, order)
        x = _predict_apply_np(warm, resid, coeffs, shift)
    else:
        raise ValueError("flac: reserved subframe type")
    if wasted:
        if len(x) and int(np.abs(x).max()) >= _SAFE_ABS >> wasted:
            raise _Fallback
        x = x << wasted
    return x


def read_flac(data: bytes) -> dict | None:
    """FLAC stream -> decoded-stream stats with the full trust chain
    (module doc); None on any violation.

    Optimization round 15 (guide §4.2): subframe bit streams decode
    through the vectorized helpers above; any int64-exactness guard
    trip reruns the WHOLE blob on the scalar from-spec path, so
    adversarial magnitudes decode with arbitrary-precision ints
    exactly as before. Both tiers pinned equal in
    tests/test_codec_fastpaths.py."""
    try:
        return _read_flac_impl(data, fast=True)
    except _Fallback:
        return _read_flac_impl(data, fast=False)


def _read_flac_impl(data: bytes, fast: bool) -> dict | None:
    if len(data) < 42 or data[:4] != b"fLaC":
        return None
    pos = 4
    info = None
    try:
        while True:
            if pos + 4 > len(data):
                return None
            h = data[pos]
            (length,) = struct.unpack(
                ">I", b"\x00" + data[pos + 1 : pos + 4]
            )
            body = pos + 4
            if body + length > len(data):
                return None
            if h & 0x7F == 0:  # STREAMINFO
                if length != 34 or info is not None:
                    return None
                b = data[body : body + 34]
                packed = int.from_bytes(b[10:18], "big")
                info = {
                    "sr": packed >> 44,
                    "ch": ((packed >> 41) & 7) + 1,
                    "bps": ((packed >> 36) & 31) + 1,
                    "total": packed & ((1 << 36) - 1),
                    "md5": b[18:34],
                }
            pos = body + length
            if h & 0x80:
                break
        if info is None or info["sr"] == 0:
            return None
        sr, ch, bps = info["sr"], info["ch"], info["bps"]
        total = info["total"]
        channels_pcm: list[list[int]] = [[] for _ in range(ch)]
        n_frames = 0
        frame_idx = 0
        decoded = 0
        while decoded < total:
            start = pos
            r = MsbReader(data, pos)
            if r.read(14) != 0x3FFE or r.read(1):
                return None
            blocking = r.read(1)
            bs_code = r.read(4)
            sr_code = r.read(4)
            asgn = r.read(4)
            ss_code = r.read(3)
            if r.read(1):
                return None
            num = _utf8_number_dec(r)
            if blocking == 0 and num != frame_idx:
                return None  # frame numbers must be consecutive
            if bs_code == 0:
                return None
            elif bs_code == 1:
                blocksize = 192
            elif 2 <= bs_code <= 5:
                blocksize = 576 << (bs_code - 2)
            elif bs_code == 6:
                blocksize = r.read(8) + 1
            elif bs_code == 7:
                blocksize = r.read(16) + 1
            else:
                blocksize = 256 << (bs_code - 8)
            if sr_code != 0:
                return None  # fixture streams bind sr to STREAMINFO
            if ss_code == 0:
                fbps = bps
            elif ss_code in _SAMPLE_SIZE:
                fbps = _SAMPLE_SIZE[ss_code]
            else:
                return None
            if fbps != bps:
                return None
            hdr_crc = r.read(8)
            if r.bit:
                return None
            if crc8(data[start : r.pos - 1]) != hdr_crc:
                return None  # header CRC-8
            if asgn < 8:
                nch = asgn + 1
                side = -1
            elif asgn in (8, 9):
                nch = 2
                side = 1 if asgn == 8 else 0
            else:
                return None  # mid/side not emitted by the encoder
            if nch != ch:
                return None
            dec = _subframe_dec if fast else _subframe_dec_py
            subs = []
            for c in range(nch):
                bits = bps + (1 if c == side else 0)
                subs.append(dec(r, blocksize, bits))
            if r.align():
                return None  # padding bits must be zero
            fcrc = r.read(16)
            if crc16(data[start : r.pos - 2]) != fcrc:
                return None  # frame CRC-16
            if asgn == 8:  # left/side
                left, s = subs
                subs = [
                    left,
                    left - s if fast
                    else [a - b for a, b in zip(left, s)],
                ]
            elif asgn == 9:  # right/side
                s, right = subs
                subs = [
                    right + s if fast
                    else [a + b for a, b in zip(right, s)],
                    right,
                ]
            if decoded + blocksize > total:
                return None  # more samples than the books allow
            for c in range(ch):
                if fast:  # list of per-frame arrays, concat at the end
                    channels_pcm[c].append(subs[c])
                else:
                    channels_pcm[c].extend(subs[c])
            decoded += blocksize
            n_frames += 1
            frame_idx += 1
            pos = r.pos
        if pos != len(data):
            return None  # trailing garbage
        if fast:
            # per-channel frame arrays -> one int64 array per channel
            # (subframe values guarded < 2^61, so the +/- above and the
            # np sums below are int64-exact for any decodable stream)
            channels_pcm = [
                np.concatenate(c) if c else np.zeros(0, np.int64)
                for c in channels_pcm
            ]
        if _pcm_md5(channels_pcm, bps) != info["md5"]:
            return None  # the decoded PCM vs STREAMINFO's claim
        if fast:
            m = max(
                (int(np.abs(c).max()) for c in channels_pcm if len(c)),
                default=0,
            )
            n_vals = sum(len(c) for c in channels_pcm)
            if m and n_vals > (1 << 62) // m:
                sample_sum = sum(sum(c.tolist()) for c in channels_pcm)
            else:
                sample_sum = int(
                    sum(int(np.sum(c)) for c in channels_pcm)
                )
        else:
            sample_sum = sum(sum(c) for c in channels_pcm)
        return {
            "sample_rate": sr,
            "channels": ch,
            "bps": bps,
            "n_frames": n_frames,
            "n_samples": total,
            "sample_sum": sample_sum,
        }
    except (ValueError, struct.error):
        return None


# --------------------------------------------------------------------------
# Minimal fixture encoder (separate from the reader)
# --------------------------------------------------------------------------


def _residual_enc_py(
    w: MsbWriter, resid: list[int], order: int, po: int, escape: bool
):
    """From-spec scalar residual encoder — the executable
    documentation, the fallback for magnitudes outside int64, and the
    differential-test reference for ``_residual_enc``."""
    w.write(0, 2)  # rice method 0 (4-bit params)
    w.write(po, 4)
    parts = 1 << po
    n = len(resid) + order
    idx = 0
    for p in range(parts):
        cnt = n // parts - (order if p == 0 else 0)
        chunk = resid[idx : idx + cnt]
        idx += cnt
        if escape:
            nraw = max(
                (int(e).bit_length() + 1 for e in chunk), default=1
            )
            nraw = min(nraw, 31)
            w.write(0xF, 4)
            w.write(nraw, 5)
            for e in chunk:
                w.write_signed(int(e), nraw)
        else:
            mx = max((_zigzag(int(e)) for e in chunk), default=0)
            param = max(0, mx.bit_length() - 4)
            param = min(param, 14)
            w.write(param, 4)
            for e in chunk:
                u = _zigzag(int(e))
                w.write_unary(u >> param)
                w.write(u & ((1 << param) - 1), param)


def _fixed_width_bits(vals, width: int):
    """MSB-first two's-complement bit matrix of int64 ``vals`` at
    ``width`` bits each, flattened to the stream order write_signed
    emits. Exact for width <= 64 (uint64 view == & mask)."""
    shifts = np.arange(width - 1, -1, -1, dtype=np.uint64)
    return (
        (vals.astype(np.uint64)[:, None] >> shifts) & np.uint64(1)
    ).astype(np.uint8).ravel()


def _residual_enc(
    w: MsbWriter, resid, order: int, po: int, escape: bool
):
    """Vectorized residual encoder (optimization round 15, guide
    §4.2): per-partition rice/escape bit streams are built as one
    numpy 0/1 array (terminator + remainder bits scattered by
    cumsum-ed code lengths) and blitted via write_bits_np —
    byte-identical to _residual_enc_py, pinned in
    tests/test_codec_fastpaths.py. Magnitudes outside int64 (or
    degenerate quotient blowups) take the scalar path."""
    try:
        arr = np.asarray(resid, np.int64)
    except OverflowError:
        return _residual_enc_py(w, list(resid), order, po, escape)
    if len(arr) and int(np.abs(arr).max()) >= 1 << 62:
        return _residual_enc_py(w, list(resid), order, po, escape)
    w.write(0, 2)  # rice method 0 (4-bit params)
    w.write(po, 4)
    parts = 1 << po
    n = len(arr) + order
    idx = 0
    for p in range(parts):
        cnt = n // parts - (order if p == 0 else 0)
        chunk = arr[idx : idx + cnt]
        idx += cnt
        if escape:
            mx = int(np.abs(chunk).max()) if len(chunk) else 0
            nraw = mx.bit_length() + 1 if len(chunk) else 1
            nraw = min(nraw, 31)
            w.write(0xF, 4)
            w.write(nraw, 5)
            w.write_bits_np(_fixed_width_bits(chunk, nraw))
        else:
            # zigzag: arithmetic shift form equals the scalar branch
            u = ((chunk >> np.int64(63)) ^ (chunk << np.int64(1))).view(
                np.uint64
            )
            mx = int(u.max()) if len(u) else 0
            param = max(0, mx.bit_length() - 4)
            param = min(param, 14)
            w.write(param, 4)
            q = (u >> np.uint64(param)).astype(np.int64)
            total = int(q.sum()) + (1 + param) * len(chunk)
            if total > 1 << 26:  # degenerate quotients: spec path
                for e in chunk.tolist():
                    ue = _zigzag(e)
                    w.write_unary(ue >> param)
                    w.write(ue & ((1 << param) - 1), param)
                continue
            lens = q + 1 + param
            starts = np.zeros(len(chunk), np.int64)
            if len(chunk) > 1:
                starts[1:] = np.cumsum(lens)[:-1]
            bits = np.zeros(total, np.uint8)
            term = starts + q
            bits[term] = 1
            for j in range(param):
                bits[term + 1 + j] = (
                    (u >> np.uint64(param - 1 - j)) & np.uint64(1)
                ).astype(np.uint8)
            w.write_bits_np(bits)


def _subframe_enc(
    w: MsbWriter,
    x: list[int],
    bits: int,
    kind: str,
    po: int,
    escape: bool,
):
    w.write(0, 1)
    if kind == "verbatim":
        w.write(1, 6)
        w.write(0, 1)
        try:
            arr = np.asarray(x, np.int64)
        except OverflowError:
            arr = None
        if arr is not None and bits <= 62:
            w.write_bits_np(_fixed_width_bits(arr, bits))
        else:  # from-spec scalar fallback
            for v in x:
                w.write_signed(v, bits)
        return
    if kind == "constant":
        w.write(0, 6)
        w.write(0, 1)
        w.write_signed(x[0], bits)
        return
    if kind.startswith("fixed"):
        order = int(kind[5:])
        w.write(8 + order, 6)
        w.write(0, 1)
        coeffs, shift = _FIXED_COEFFS[order], 0
    else:  # lpc2: coefficients [2, -1], precision 4, shift 0
        order = 2
        w.write(0x20 | (order - 1), 6)
        w.write(0, 1)
        coeffs, shift = [2, -1], 0
    for v in x[:order]:
        w.write_signed(v, bits)
    if kind == "lpc2":
        w.write(4 - 1, 4)
        w.write_signed(0, 5)
        for c in coeffs:
            w.write_signed(c, 4)
    # fixed coefficients (incl. lpc2 == fixed-2, shift 0) are k-th
    # difference operators: resid = np.diff(x, order), int64-exact
    # under the magnitude guard (each diff at most doubles |value|)
    arr = None
    if shift == 0 and coeffs == _FIXED_COEFFS.get(order):
        try:
            arr = np.asarray(x, np.int64)
        except OverflowError:
            arr = None
        if arr is not None and len(arr) and int(
            np.abs(arr).max()
        ) >= 1 << (62 - order):
            arr = None
    if arr is not None:
        resid = np.diff(arr, order)
    else:  # from-spec scalar fallback
        resid = [
            x[k]
            - (
                sum(c * x[k - 1 - j] for j, c in enumerate(coeffs))
                >> shift
            )
            for k in range(order, len(x))
        ]
    _residual_enc(w, resid, order, po, escape)


def make_flac(
    channels_pcm: list[list[int]],
    sample_rate: int,
    bps: int = 16,
    block_size: int = 256,
    kind_of=None,
) -> bytes:
    """Encode PCM as a valid FLAC stream. ``kind_of(frame, ch) ->
    (kind, partition_order, escape)`` picks the subframe strategy;
    stereo frames with odd index use left/side decorrelation."""
    ch = len(channels_pcm)
    total = len(channels_pcm[0])
    if bps not in _SAMPLE_SIZE_CODE:
        raise ValueError(f"flac: unsupported bps {bps}")
    digest = _pcm_md5(channels_pcm, bps)
    packed = (
        (sample_rate << 44)
        | ((ch - 1) << 41)
        | ((bps - 1) << 36)
        | total
    )
    streaminfo = (
        struct.pack(">HH", block_size, block_size)
        + b"\x00\x00\x00" * 2
        + packed.to_bytes(8, "big")
        + digest
    )
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(streaminfo).to_bytes(3, "big")
    out += streaminfo
    if kind_of is None:
        kind_of = lambda f, c: ("fixed1", 0, False)  # noqa: E731
    n_frames = -(-total // block_size)
    for f in range(n_frames):
        lo = f * block_size
        hi = min(lo + block_size, total)
        bs = hi - lo
        use_ls = ch == 2 and f % 2 == 1
        asgn = 8 if use_ls else ch - 1
        hdr = MsbWriter()
        hdr.write(0x3FFE, 14)
        hdr.write(0, 1)
        hdr.write(0, 1)  # fixed blocksize: frame number coded
        hdr.write(7, 4)  # 16-bit blocksize-1 at end of header
        hdr.write(0, 4)  # sample rate from STREAMINFO
        hdr.write(asgn, 4)
        hdr.write(_SAMPLE_SIZE_CODE[bps], 3)
        hdr.write(0, 1)
        hdr.align()
        head = hdr.bytes() + _utf8_number_enc(f) + struct.pack(
            ">H", bs - 1
        )
        head += bytes([crc8(head)])
        body = MsbWriter()
        if use_ls:
            left = channels_pcm[0][lo:hi]
            s = [
                a - b
                for a, b in zip(left, channels_pcm[1][lo:hi])
            ]
            planes = [(left, bps), (s, bps + 1)]
        else:
            planes = [
                (channels_pcm[c][lo:hi], bps) for c in range(ch)
            ]
        for c, (x, bits) in enumerate(planes):
            kind, po, escape = kind_of(f, c)
            if bs % (1 << po):
                po = 0
            order = (
                int(kind[5:]) if kind.startswith("fixed")
                else 2 if kind == "lpc2" else 0
            )
            if bs <= order:
                kind = "verbatim"  # a short last frame can't warm up
            _subframe_enc(body, x, bits, kind, po, escape)
        body.align()
        frame = head + body.bytes()
        frame += struct.pack(">H", crc16(frame))
        out += frame
    return bytes(out)


# --------------------------------------------------------------------------
# Spark wrapper (one ``blob_stats`` call) + deterministic fixture
# --------------------------------------------------------------------------

FLAC_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("sample_rate", LongType()),
        StructField("channels", LongType()),
        StructField("bps", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_samples", LongType()),
        StructField("sample_sum", LongType()),
    ]
)


def flac_stats(df: DataFrame) -> DataFrame:
    """FLAC decode over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_flac, FLAC_SCHEMA, "flac")


_KINDS = ("fixed1", "fixed2", "lpc2", "verbatim")


def _flac_pcm(i: int, c: int, n: int) -> int:
    return ((7 * i + 13 * c + 5 * n) % 2001) - 1000


def _make_flac_media(i: int) -> bytes:
    """Deterministic FLAC blob: sample rate rotates 8000/16000/22050/
    44100, mono/stereo by parity, 600 + i%300 samples in 256-sample
    frames. Subframe strategy rotates fixed-1 / fixed-2 / LPC /
    VERBATIM by (i+f+c)%4, partition order alternates 0/1, every
    (i+f)%7==0 subframe uses the raw-bits ESCAPE, and stereo frames
    with odd index use LEFT/SIDE decorrelation — every decode path
    exercised. Stripes: every 13th id's STREAMINFO MD5 is wrong
    (only decoding ALL samples exposes it); every 17th-miss id's
    last frame CRC-16 is flipped; every 19th-miss id's STREAMINFO
    total-samples is overstated by one — all refuse."""
    sr = (8000, 16000, 22050, 44100)[i % 4]
    ch = 1 + i % 2
    n = 600 + i % 300
    pcm = [
        [_flac_pcm(i, c, k) for k in range(n)] for c in range(ch)
    ]

    def kind_of(f, c):
        return (
            _KINDS[(i + f + c) % 4],
            f % 2,
            (i + f) % 7 == 0,
        )

    blob = bytearray(make_flac(pcm, sr, kind_of=kind_of))
    if i % 13 == 0:
        blob[8 + 18] ^= 0x01  # MD5 lie
    elif i % 17 == 0:
        blob[-1] ^= 0x01  # last frame CRC-16
    elif i % 19 == 0:
        packed = int.from_bytes(blob[8 + 10 : 8 + 18], "big") + 1
        blob[8 + 10 : 8 + 18] = packed.to_bytes(8, "big")
    return bytes(blob)


def synthesize_flac_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of FLAC blobs."""
    return synthesize_blobs(docs, _make_flac_media, blob_meta("flac"), partitions)
