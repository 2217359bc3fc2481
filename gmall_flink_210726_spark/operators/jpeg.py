"""Baseline JPEG decode with stdlib + numpy only — no codec libraries.

Beyond-reference surface (BASELINE.json north star): closes the last
"general codec honestly stubbed" gap (operators/multimodal.py keeps
PIL-dependent formats behind a guard). Everything here is from the
public ITU-T T.81 spec: marker segment parsing (SOI/APPn/DQT/SOF0/
DHT/SOS/EOI), canonical Huffman table construction from DHT
bits/values, the byte-stuffed entropy bit stream, DC prediction with
EXTEND sign decoding, AC run-length/EOB/ZRL decoding through the
zigzag scan, dequantization, the 8x8 inverse DCT (float64 basis
matmul), level shift and clipping.

Supported subset (honestly bounded): baseline sequential DCT (SOF0)
and progressive DCT (SOF2) with spectral selection and DC successive
approximation — multi-scan coefficient accumulation with EOBn runs
per T.81 G.1.2 — 8-bit precision, 1 or 3 components with sampling factors in
{1,2} x {1,2} — including 4:2:0 chroma subsampling with MCU-interleaved
scans and replicate upsampling — DRI restart intervals with RSTn resync
(byte-aligned modulo-8 markers, predictor resets), and no AC
successive-approximation REFINEMENT scans (Ah>0 on an AC band —
the one progressive feature rejected). Anything else raises
ValueError and the Spark operator degrades the row to
format='unknown' — never throw away the partition for one file.

Fixture strategy (the PNG/_make_bmp pattern,
operators/multimodal.py:151,622): the synthesizer writes REAL
baseline JPEGs whose 8x8 blocks are DC-only with quantizer step 8, so
the decoded block is EXACTLY its target constant value — IDCT of a
DC-only block is F00/8 with zero rounding ambiguity — and a DuckDB
oracle recomputes per-image pixel sums blind from the LCG block
values, including right/bottom block cropping for non-multiple-of-8
dims. The decoder itself is general (it walks DQT/DHT/SOF from the
bytes and runs the full AC path); the fixture just makes its output
integer-exact.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)

# ---------------------------------------------------------------- fixture
# dims/values shared with the DuckDB oracle in queries/llm5.py — the
# decoder never sees these formulas, it parses the bytes.
_JPG_BW = lambda i: 1 + i % 4  # noqa: E731  blocks wide
_JPG_BH = lambda i: 1 + i % 3  # noqa: E731  blocks high
_JPG_WPAD = lambda i: i % 5  # noqa: E731  right-edge crop (0..4 cols)
_JPG_HPAD = lambda i: i % 3  # noqa: E731  bottom-edge crop (0..2 rows)
_JPG_BAD = lambda i: i % 13 == 0  # noqa: E731  truncated corrupt blob
_JPG_V = lambda i, b: (i * 37 + 11 * b) % 256  # noqa: E731  block value

# custom (legal) canonical Huffman tables, declared in DHT like any
# optimizer-written JPEG: DC = twelve 4-bit codes for categories 0-11;
# AC = eleven 4-bit codes for EOB and (run 0, size 1-10).
_DC_BITS = [0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 0, 0, 11, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_AC_VALS = [0x00] + list(range(1, 11))  # EOB, then (run 0, size 1-10)


def _zigzag_order():
    """The T.81 zigzag scan, generated (not transcribed): walk the
    anti-diagonals s = row+col, upward (increasing col) on even s,
    downward on odd s."""
    order = []
    for s in range(15):
        d = range(max(0, s - 7), min(s, 7) + 1)
        for col in (reversed(d) if s % 2 else d):
            order.append((s - col) * 8 + col)
    return order


_ZIGZAG = _zigzag_order()


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self.acc = 0
                self.nbits = 0

    def flush(self) -> bytes:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        return bytes(self.out)


def _dht(cls: int, tid: int, bits, vals) -> bytes:
    payload = bytes([cls << 4 | tid]) + bytes(bits) + bytes(vals)
    return struct.pack(">2sH", b"\xff\xc4", 2 + len(payload)) + payload


def _make_jpeg(media_id: int, q_step: int = 8) -> bytes:
    """Real baseline JPEG: grayscale, DC-only blocks, quantizer step
    ``q_step`` everywhere. Block (by, bx) decodes to the constant
    pixel value _JPG_V(id, by*bw + bx) exactly. Ids hitting _JPG_BAD
    are truncated right after SOF0 — a corrupt blob the decoder must
    reject, not crash on."""
    i = int(media_id)
    bw, bh = _JPG_BW(i), _JPG_BH(i)
    w, h = 8 * bw - _JPG_WPAD(i), 8 * bh - _JPG_HPAD(i)
    out = bytearray(b"\xff\xd8")  # SOI
    out += struct.pack(">2sH", b"\xff\xdb", 2 + 65) + bytes([0x00]) + bytes(
        [q_step] * 64
    )  # DQT, 8-bit table 0
    out += struct.pack(
        ">2sHBHHB", b"\xff\xc0", 11, 8, h, w, 1
    ) + bytes([1, 0x11, 0])  # SOF0: 1 component, 1x1 sampling, Tq=0
    if _JPG_BAD(i):
        return bytes(out[: len(out) // 2])
    out += _dht(0, 0, _DC_BITS, _DC_VALS)
    out += _dht(1, 0, _AC_BITS, _AC_VALS)
    out += struct.pack(">2sH", b"\xff\xda", 8) + bytes(
        [1, 1, 0x00, 0, 63, 0]
    )  # SOS
    bwr = _BitWriter()
    prev = 0
    for b in range(bw * bh):
        level = _JPG_V(i, b) - 128  # dequantized DC = level * q_step
        diff = level - prev
        prev = level
        cat = abs(diff).bit_length()
        bwr.write(cat, 4)  # DC canonical code == category value
        if cat:
            mag = diff if diff > 0 else diff + (1 << cat) - 1
            bwr.write(mag, cat)
        bwr.write(0, 4)  # AC: EOB (canonical code 0 at length 4)
    out += bwr.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------- decoder


def _build_huffman(bits, vals):
    """Canonical Huffman per T.81 C.2: {(length, code): symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first reader over the byte-stuffed entropy segment."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("entropy stream exhausted")
            byte = self.data[self.pos]
            self.pos += 1
            if byte == 0xFF:
                if self.pos >= len(self.data) or self.data[self.pos] != 0x00:
                    raise ValueError("marker inside entropy stream")
                self.pos += 1
            self.acc = byte
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def restart(self, m: int) -> None:
        """Consume a byte-aligned RSTm marker (T.81 E.2.4): discard
        the padding bits of the current byte and verify the 3-bit
        modulo-8 sequence number."""
        self.nbits = 0
        if (
            self.pos + 2 > len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + (m & 7)
        ):
            raise ValueError("missing or out-of-sequence restart marker")
        self.pos += 2

    def read_symbol(self, table) -> int:
        length, code = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _extend(mag: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map a size-bit magnitude to its signed
    coefficient."""
    if size == 0:
        return 0
    return mag if mag >= (1 << (size - 1)) else mag - (1 << size) + 1


_IDCT_BASIS = None


def _idct_basis():
    global _IDCT_BASIS
    if _IDCT_BASIS is None:
        import numpy as np

        x = np.arange(8)
        u = np.arange(8)
        c = np.where(u == 0, 1.0 / np.sqrt(2.0), 1.0)
        _IDCT_BASIS = (c[:, None] / 2.0) * np.cos(
            (2 * x[None, :] + 1) * u[:, None] * np.pi / 16.0
        )
    return _IDCT_BASIS


def _entropy_end(b: bytes, start: int) -> int:
    """Index of the marker terminating the entropy segment that starts
    at ``start``: the first 0xFF followed by neither a stuffed 0x00
    nor a restart marker (RSTn, 0xD0-0xD7, which live INSIDE the
    entropy segment when a DRI interval is active)."""
    pos = start
    while True:
        nxt = b.find(b"\xff", pos)
        if nxt < 0 or nxt + 1 >= len(b):
            raise ValueError("entropy stream ran past end of file")
        nb = b[nxt + 1]
        if nb != 0x00 and not (0xD0 <= nb <= 0xD7):
            return nxt
        pos = nxt + 2


def _decode_jpeg(b: bytes):
    """Parse + entropy-decode + dequantize + IDCT a JPEG. Handles
    baseline sequential (SOF0, one full-band scan) and progressive
    (SOF2, multiple scans) through ONE coefficient-accumulation path:
    every scan deposits (shifted) coefficients into a per-component
    store, and reconstruction runs once at EOI — for baseline the
    store is simply filled by a single Ss=0..Se=63 scan. Returns
    (w, h, ndarray[h, w, n_comp] of uint8-range int64) or raises
    ValueError on anything malformed or outside the supported subset
    (see module doc; AC successive-approximation refinement scans are
    the one progressive feature rejected)."""
    import numpy as np

    if b[:2] != b"\xff\xd8":
        raise ValueError("bad SOI")
    pos = 2
    qt: dict[int, object] = {}
    huff: dict[tuple[int, int], dict] = {}
    sof = None
    progressive = False
    coefs: dict[int, object] = {}  # component id -> [bh, bw, 64] zigzag
    pred: dict[int, int] = {}
    ri = 0  # restart interval in MCUs (0 = none)
    n_scans = 0
    scan_order: list[int] = []  # component ids in SOF order
    while True:
        if pos + 2 > len(b):
            raise ValueError("ran past end of file")
        if b[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(b):
            raise ValueError("truncated marker segment")
        (seglen,) = struct.unpack_from(">H", b, pos + 2)
        seg = b[pos + 4 : pos + 2 + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated segment")
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0xF
                n = 64 * (2 if pq else 1)
                raw = seg[off + 1 : off + 1 + n]
                if len(raw) != n:
                    raise ValueError("truncated DQT")
                vals = (
                    np.frombuffer(raw, ">u2").astype(np.int64)
                    if pq
                    else np.frombuffer(raw, np.uint8).astype(np.int64)
                )
                qt[tq] = vals
                off += 1 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if sof is not None:
                raise ValueError("duplicate SOF")
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError("unsupported precision")
            if not (0 < w <= 1 << 16 and 0 < h <= 1 << 16):
                raise ValueError("bad dims")
            raw_comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                hi, vi = hv >> 4, hv & 0xF
                if hi not in (1, 2) or vi not in (1, 2):
                    raise ValueError("unsupported subsampling")
                raw_comps.append((cid, tq, hi, vi))
            hmax = max(c[2] for c in raw_comps)
            vmax = max(c[3] for c in raw_comps)
            mw = (w + 8 * hmax - 1) // (8 * hmax)  # MCU grid
            mh = (h + 8 * vmax - 1) // (8 * vmax)
            comps = []
            for cid, tq, hi, vi in raw_comps:
                # interleaved data carries FULL MCUs, so allocate the
                # MCU-padded grid; non-interleaved scans iterate only
                # the ceil("real") sub-grid (T.81 A.2.4)
                bwi = (w * hi + 8 * hmax - 1) // (8 * hmax)
                bhi = (h * vi + 8 * vmax - 1) // (8 * vmax)
                comps.append((cid, tq, hi, vi, bwi, bhi))
                coefs[cid] = np.zeros((mh * vi, mw * hi, 64), np.int64)
                pred[cid] = 0
                scan_order.append(cid)
            sof = (w, h, comps, hmax, vmax, mw, mh)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7):
            raise ValueError("unsupported SOF mode")
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(seg):
                cls, tid = seg[off] >> 4, seg[off] & 0xF
                bits = list(seg[off + 1 : off + 17])
                if len(bits) != 16:
                    raise ValueError("truncated DHT")
                nv = sum(bits)
                vals = list(seg[off + 17 : off + 17 + nv])
                if len(vals) != nv:
                    raise ValueError("truncated DHT")
                huff[(cls, tid)] = _build_huffman(bits, vals)
                off += 17 + nv
        elif marker == 0xDD:  # DRI
            if len(seg) != 2:
                raise ValueError("bad DRI segment")
            (ri,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if sof is None:
                raise ValueError("SOS before SOF")
            if not seg:
                raise ValueError("empty SOS segment")
            ns = seg[0]
            if len(seg) < 4 + 2 * ns:
                raise ValueError("truncated SOS segment")
            scan = []
            for ci in range(ns):
                cs, tdta = seg[1 + 2 * ci], seg[2 + 2 * ci]
                scan.append((cs, tdta >> 4, tdta & 0xF))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahal = seg[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if not progressive and (ss, se, ah, al) != (0, 63, 0, 0):
                raise ValueError("non-full-band scan in baseline")
            if progressive and ss == 0 and se != 0:
                # T.81 G.1: progressive DC and AC never share a scan
                raise ValueError("progressive DC scan with AC band")
            data_start = pos + 2 + seglen
            end = _entropy_end(b, data_start)
            _decode_scan_into(
                b[data_start:end], sof, scan, huff, coefs, pred,
                ss, se, ah, al, ri,
            )
            n_scans += 1
            pos = end
            continue
        pos += 2 + seglen
    if sof is None or n_scans == 0:
        raise ValueError("no scan data")
    return _reconstruct(sof, qt, coefs)


def _decode_scan_into(
    data: bytes, sof, scan, huff, coefs, pred, ss, se, ah, al, ri=0
):
    """Entropy-decode one scan's (shifted) coefficients into the
    per-component zigzag stores. Baseline's single scan is the
    ss=0..se=63, ah=al=0 case; progressive scans deposit their
    spectral band (T.81 G.1.2): DC first with point transform Al, DC
    refinement bits for Ah>0, AC first scans with EOB-run (EOBn)
    codes spanning blocks. AC successive-approximation refinement is
    the one scan kind rejected (module doc). With a DRI interval
    ``ri`` active, a byte-aligned RSTm marker is consumed every ri
    MCUs, DC predictors reset, and EOB runs never span the boundary
    (T.81 E.2.4).

    Multi-component scans are MCU-interleaved per the components'
    sampling factors (T.81 A.2.3: each MCU carries vi x hi blocks per
    component, raster order within the MCU); single-component scans
    are non-interleaved over that component's REAL block grid
    (A.2.4)."""
    w, h, comps, hmax, vmax, mw, mh = sof
    byid = {c[0]: c for c in comps}
    for cs, _, _ in scan:
        if cs not in byid:
            raise ValueError("scan references unknown component")
    if not (0 <= ss <= se <= 63):
        raise ValueError("bad spectral band")
    rdr = _BitReader(data)

    def units():
        """Yield per-MCU (or per-block when non-interleaved) lists of
        (cs, by, bx) coefficient slots, with restart handling."""
        n = 0
        if len(scan) > 1:  # MCU-interleaved
            for my in range(mh):
                for mx in range(mw):
                    if ri and n and n % ri == 0:
                        yield None, n // ri - 1  # restart sentinel
                    slots = []
                    for cs, _, _ in scan:
                        _, _, hi, vi, _, _ = byid[cs]
                        for r in range(vi):
                            for c in range(hi):
                                slots.append((cs, my * vi + r, mx * hi + c))
                    yield slots, None
                    n += 1
        else:
            cs = scan[0][0]
            _, _, _, _, bwi, bhi = byid[cs]
            for by in range(bhi):
                for bx in range(bwi):
                    if ri and n and n % ri == 0:
                        yield None, n // ri - 1
                    yield [(cs, by, bx)], None
                    n += 1

    if ss == 0:  # DC scan (progressive) or full-band scan (baseline)
        if ah > 0:  # DC successive-approximation refinement
            if se != 0:
                raise ValueError("refinement scan with AC band")
            for slots, rst in units():
                if slots is None:
                    rdr.restart(rst)
                    continue
                for cs, by, bx in slots:
                    coefs[cs][by, bx, 0] |= rdr.read_bit() << al
            return
        tabs = {}
        for cs, td, ta in scan:
            dc_tab = huff.get((0, td))
            ac_tab = huff.get((1, ta)) if se > 0 else None
            if dc_tab is None or (se > 0 and ac_tab is None):
                raise ValueError("missing Huffman table")
            tabs[cs] = (dc_tab, ac_tab)
        for slots, rst in units():
            if slots is None:
                rdr.restart(rst)
                for cs, _, _ in scan:
                    pred[cs] = 0
                continue
            for cs, by, bx in slots:
                dc_tab, ac_tab = tabs[cs]
                size = rdr.read_symbol(dc_tab)
                if size > 11:  # T.81 F.1.2.1: 8-bit DC category max
                    raise ValueError("bad DC category")
                pred[cs] += _extend(rdr.read_bits(size), size)
                coefs[cs][by, bx, 0] = pred[cs] << al
                k = 1
                while k <= se:
                    sym = rdr.read_symbol(ac_tab)
                    if sym == 0x00:  # EOB
                        break
                    if sym == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += sym >> 4
                    if k > se:
                        raise ValueError("AC index overflow")
                    coefs[cs][by, bx, k] = _extend(
                        rdr.read_bits(sym & 0xF), sym & 0xF
                    )
                    k += 1
        return
    # AC band scan: progressive only, always non-interleaved (T.81)
    if len(scan) != 1:
        raise ValueError("interleaved AC scan")
    if ah > 0:
        raise ValueError("AC successive-approximation refinement unsupported")
    cs, _, ta = scan[0]
    ac_tab = huff.get((1, ta))
    if ac_tab is None:
        raise ValueError("missing Huffman table")
    eobrun = 0
    for slots, rst in units():
        if slots is None:
            rdr.restart(rst)
            eobrun = 0  # EOB runs never cross a restart (E.2.4)
            continue
        _, by, bx = slots[0]
        if eobrun > 0:
            eobrun -= 1
            continue
        k = ss
        while k <= se:
            sym = rdr.read_symbol(ac_tab)
            r, s2 = sym >> 4, sym & 0xF
            if s2 == 0:
                if r == 15:  # ZRL
                    k += 16
                    continue
                # EOBn: run of 2^r - 1 + appended-bits MORE blocks
                # (current block's band ends here too)
                eobrun = (1 << r) - 1 + (rdr.read_bits(r) if r else 0)
                break
            k += r
            if k > se:
                raise ValueError("AC index overflow")
            coefs[cs][by, bx, k] = _extend(rdr.read_bits(s2), s2) << al
            k += 1


def _reconstruct(sof, qt, coefs):
    """Dequantize + IDCT every component's accumulated coefficients
    (vectorized over all blocks with one einsum per component),
    replicate-upsample subsampled components to full resolution, and
    assemble the cropped channel stack. Rounding convention is
    floor(x + 0.5) — chosen over banker's rounding because it is the
    one convention an external exact recomputation (the DuckDB
    oracles) can reproduce with plain double floor arithmetic."""
    import numpy as np

    w, h, comps = sof[0], sof[1], sof[2]
    hmax, vmax = sof[3], sof[4]
    basis = _idct_basis()
    zz = np.asarray(_ZIGZAG)
    chans = []
    for cid, tq, hi, vi, _, _ in comps:
        if tq not in qt:
            raise ValueError("missing quant table")
        # coefficients AND the DQT table live in zigzag order
        # (T.81 B.2.4.1): dequantize in zigzag space, then scatter to
        # raster via the scan table
        bhc, bwc = coefs[cid].shape[0], coefs[cid].shape[1]
        deq = coefs[cid] * qt[tq]  # [bh, bw, 64] zigzag
        blk = np.zeros((bhc, bwc, 64), np.int64)
        blk[..., zz] = deq
        m = blk.reshape(bhc, bwc, 8, 8).astype(np.float64)
        px = np.einsum("ux,bcuv,vy->bcxy", basis, m, basis)
        px = np.clip(np.floor(px + 0.5) + 128, 0, 255).astype(np.int64)
        plane = px.transpose(0, 2, 1, 3).reshape(bhc * 8, bwc * 8)
        if hi != hmax or vi != vmax:  # replicate-upsample (JFIF style)
            plane = np.repeat(
                np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1
            )
        chans.append(plane[:h, :w])
    if len(chans) == 3:  # YCbCr -> RGB (BT.601)
        y, cb, cr = (c.astype(np.float64) for c in chans)
        r = y + 1.402 * (cr - 128)
        g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
        bl = y + 1.772 * (cb - 128)
        chans = [
            np.clip(np.floor(c + 0.5), 0, 255).astype(np.int64)
            for c in (r, g, bl)
        ]
    return w, h, np.stack(chans, axis=-1)


# ----------------------------------------------------------- Spark surface

JPEG_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_pixels", LongType()),
        StructField("pixel_sum", LongType()),
    ]
)


def synthesize_jpeg_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL baseline JPEG blobs, one per doc_id
    (dims deterministic in the id; ids hitting _JPG_BAD are truncated
    corrupt blobs). Built through ``synthesize_blobs``."""
    return synthesize_blobs(
        docs,
        _make_jpeg,
        lambda i: blob_meta(
            "corrupt" if _JPG_BAD(i) else "jpeg",
            8 * _JPG_BW(i) - _JPG_WPAD(i),
            8 * _JPG_BH(i) - _JPG_HPAD(i),
        ),
    )


def _jpeg_pixels_walk(b: bytes) -> dict:
    w, h, px = _decode_jpeg(b)
    return {
        "width": int(w),
        "height": int(h),
        "n_pixels": int(w) * int(h),
        "pixel_sum": int(px.sum(dtype="int64")),
    }


def jpeg_pixel_stats(df: DataFrame) -> DataFrame:
    """REAL baseline-JPEG decode over MEDIA_SCHEMA input: Huffman
    entropy decode + dequant + IDCT with stdlib/numpy alone, emitting
    per-image pixel sums. Corrupt/unsupported blobs degrade to
    format='unknown' zeroed rows."""
    return blob_stats(df, _jpeg_pixels_walk, JPEG_SCHEMA, "jpeg")


# ------------------------------------------------------- progressive fixture
# distinct LCG constants from the baseline set, shared with the DuckDB
# oracle in queries/llm8.py — the decoder never sees these formulas.
_PJPG_BW = lambda i: 1 + i % 5  # noqa: E731
_PJPG_BH = lambda i: 1 + i % 4  # noqa: E731
_PJPG_WPAD = lambda i: i % 4  # noqa: E731
_PJPG_HPAD = lambda i: i % 3  # noqa: E731
_PJPG_BAD = lambda i: i % 12 == 0  # noqa: E731
_PJPG_V = lambda i, b: (i * 43 + 17 * b) % 256  # noqa: E731

# AC table for the progressive scans: eight 4-bit codes — EOB0-EOB4
# (EOBn runs cover up to 31 blocks), ZRL, and two run/size symbols so
# hand-built test streams can code real AC coefficients.
_PAC_BITS = [0, 0, 0, 8, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
_PAC_VALS = [0x00, 0x10, 0x20, 0x30, 0x40, 0xF0, 0x01, 0x03]


def _sos(ncomp_specs, ss: int, se: int, ah: int, al: int) -> bytes:
    ns = len(ncomp_specs)
    payload = bytes([ns])
    for cs, td, ta in ncomp_specs:
        payload += bytes([cs, (td << 4) | ta])
    payload += bytes([ss, se, (ah << 4) | al])
    return struct.pack(">2sH", b"\xff\xda", 2 + len(payload)) + payload


def _emit_eobrun(bwr: "_BitWriter", n: int) -> None:
    """One EOBn code for a run of n blocks (n <= 31 in the fixture):
    r = floor(log2 n), then r appended bits carrying n - 2^r."""
    r = n.bit_length() - 1
    bwr.write([0x00, 0x10, 0x20, 0x30, 0x40].index(r << 4), 4)
    if r:
        bwr.write(n - (1 << r), r)


def _make_progressive_jpeg(media_id: int, q_step: int = 8) -> bytes:
    """Real PROGRESSIVE (SOF2) JPEG: grayscale, DC-only blocks, four
    scans — DC first with point transform Al=1, a DC
    successive-approximation refinement scan carrying each block's low
    bit, then two spectral-selection AC band scans (1-31, 32-63) whose
    all-zero bands are coded as multi-block EOBn runs with appended
    bits. Decoding must accumulate all four scans into the coefficient
    store to reproduce the exact block constants; ids hitting
    _PJPG_BAD are truncated right after SOF2."""
    i = int(media_id)
    bw, bh = _PJPG_BW(i), _PJPG_BH(i)
    w, h = 8 * bw - _PJPG_WPAD(i), 8 * bh - _PJPG_HPAD(i)
    out = bytearray(b"\xff\xd8")
    out += struct.pack(">2sH", b"\xff\xdb", 2 + 65) + bytes([0x00]) + bytes(
        [q_step] * 64
    )
    out += struct.pack(
        ">2sHBHHB", b"\xff\xc2", 11, 8, h, w, 1
    ) + bytes([1, 0x11, 0])  # SOF2: 1 component, 1x1 sampling, Tq=0
    if _PJPG_BAD(i):
        return bytes(out[: len(out) // 2])
    out += _dht(0, 0, _DC_BITS, _DC_VALS)
    out += _dht(1, 0, _PAC_BITS, _PAC_VALS)
    nb = bw * bh
    levels = [_PJPG_V(i, b) - 128 for b in range(nb)]
    # scan 1: DC first, point transform Al=1 (sends level >> 1)
    out += _sos([(1, 0, 0)], 0, 0, 0, 1)
    bwr = _BitWriter()
    prev = 0
    for lv in levels:
        vt = lv >> 1  # arithmetic shift, negative-safe
        diff = vt - prev
        prev = vt
        cat = abs(diff).bit_length()
        bwr.write(cat, 4)
        if cat:
            mag = diff if diff > 0 else diff + (1 << cat) - 1
            bwr.write(mag, cat)
    out += bwr.flush()
    # scan 2: DC refinement Ah=1 Al=0 — one raw bit per block (low bit)
    out += _sos([(1, 0, 0)], 0, 0, 1, 0)
    bwr = _BitWriter()
    for lv in levels:
        bwr.write(lv & 1, 1)
    out += bwr.flush()
    # scans 3+4: AC bands, all-zero -> one EOBn run spanning all blocks
    for ss, se in ((1, 31), (32, 63)):
        out += _sos([(1, 0, 0)], ss, se, 0, 0)
        bwr = _BitWriter()
        _emit_eobrun(bwr, nb)
        out += bwr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def synthesize_progressive_jpeg_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL progressive JPEG blobs, one per
    doc_id (dims deterministic in the id; ids hitting _PJPG_BAD are
    truncated corrupt blobs)."""
    return synthesize_blobs(
        docs,
        _make_progressive_jpeg,
        lambda i: blob_meta(
            "corrupt" if _PJPG_BAD(i) else "jpeg",
            8 * _PJPG_BW(i) - _PJPG_WPAD(i),
            8 * _PJPG_BH(i) - _PJPG_HPAD(i),
        ),
    )


# ------------------------------------------------- restart-interval fixture
_RJPG_BW = lambda i: 2 + i % 4  # noqa: E731  2..5 blocks wide
_RJPG_BH = lambda i: 1 + i % 3  # noqa: E731
_RJPG_WPAD = lambda i: i % 3  # noqa: E731
_RJPG_HPAD = lambda i: i % 4  # noqa: E731
_RJPG_BAD = lambda i: i % 14 == 0  # noqa: E731
_RJPG_V = lambda i, b: (i * 47 + 23 * b) % 256  # noqa: E731


def _make_restart_jpeg(media_id: int, q_step: int = 8, ri: int = 3) -> bytes:
    """Real baseline JPEG WITH a DRI restart interval: every ``ri``
    MCUs the entropy stream is byte-aligned (1-padded), an RSTm marker
    with the modulo-8 sequence number is emitted, and the DC predictor
    resets — the resumability hook every parallel encoder emits so a
    100 TB corpus can be entropy-decoded in independent chunks. Ids
    hitting _RJPG_BAD are truncated corrupt blobs."""
    i = int(media_id)
    bw, bh = _RJPG_BW(i), _RJPG_BH(i)
    w, h = 8 * bw - _RJPG_WPAD(i), 8 * bh - _RJPG_HPAD(i)
    out = bytearray(b"\xff\xd8")
    out += struct.pack(">2sH", b"\xff\xdb", 2 + 65) + bytes([0x00]) + bytes(
        [q_step] * 64
    )
    out += struct.pack(
        ">2sHBHHB", b"\xff\xc0", 11, 8, h, w, 1
    ) + bytes([1, 0x11, 0])
    if _RJPG_BAD(i):
        return bytes(out[: len(out) // 2])
    out += struct.pack(">2sHH", b"\xff\xdd", 4, ri)  # DRI
    out += _dht(0, 0, _DC_BITS, _DC_VALS)
    out += _dht(1, 0, _AC_BITS, _AC_VALS)
    out += struct.pack(">2sH", b"\xff\xda", 8) + bytes([1, 1, 0x00, 0, 63, 0])
    nb = bw * bh
    bwr = _BitWriter()
    prev = 0
    for b in range(nb):
        if ri and b and b % ri == 0:
            out += bwr.flush()  # byte-align with 1-padding
            out += bytes([0xFF, 0xD0 + ((b // ri - 1) & 7)])
            bwr = _BitWriter()
            prev = 0  # predictor resets at restart (T.81 E.2.4)
        level = _RJPG_V(i, b) - 128
        diff = level - prev
        prev = level
        cat = abs(diff).bit_length()
        bwr.write(cat, 4)
        if cat:
            mag = diff if diff > 0 else diff + (1 << cat) - 1
            bwr.write(mag, cat)
        bwr.write(0, 4)  # EOB
    out += bwr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def synthesize_restart_jpeg_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL DRI/RSTn baseline JPEG blobs."""
    return synthesize_blobs(
        docs,
        _make_restart_jpeg,
        lambda i: blob_meta(
            "corrupt" if _RJPG_BAD(i) else "jpeg",
            8 * _RJPG_BW(i) - _RJPG_WPAD(i),
            8 * _RJPG_BH(i) - _RJPG_HPAD(i),
        ),
    )


# --------------------------------------------------- 4:2:0 chroma fixture
_J420_MW = lambda i: 1 + i % 3  # noqa: E731  MCU cols
_J420_MH = lambda i: 1 + i % 2  # noqa: E731  MCU rows
_J420_WPAD = lambda i: i % 5  # noqa: E731  right crop (0..4 px)
_J420_HPAD = lambda i: i % 3  # noqa: E731  bottom crop (0..2 px)
_J420_BAD = lambda i: i % 15 == 0  # noqa: E731
_J420_Y = lambda i, bx, by, mw: (i * 53 + 29 * (by * 2 * mw + bx)) % 256  # noqa: E731
_J420_CB = lambda i, m: (i * 19 + 7 * m) % 256  # noqa: E731
_J420_CR = lambda i, m: (i * 23 + 13 * m) % 256  # noqa: E731


def _make_jpeg420(media_id: int, q_step: int = 8) -> bytes:
    """Real 4:2:0 chroma-subsampled color JPEG: Y at 2x2 sampling,
    Cb/Cr at 1x1, single interleaved baseline scan whose MCUs carry
    4 Y blocks (raster order) + Cb + Cr. All blocks DC-only: Y varies
    per 8x8 block, chroma per MCU, so a decoder that mis-orders the
    MCU interleave, maps chroma to the wrong 16x16 region, or forgets
    the per-component DC predictors produces wrong RGB sums. Ids
    hitting _J420_BAD are truncated corrupt blobs."""
    i = int(media_id)
    mw, mh = _J420_MW(i), _J420_MH(i)
    w, h = 16 * mw - _J420_WPAD(i), 16 * mh - _J420_HPAD(i)
    out = bytearray(b"\xff\xd8")
    out += struct.pack(">2sH", b"\xff\xdb", 2 + 65) + bytes([0x00]) + bytes(
        [q_step] * 64
    )
    out += struct.pack(">2sHBHHB", b"\xff\xc0", 17, 8, h, w, 3) + bytes(
        [1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]
    )  # SOF0: Y 2x2, Cb 1x1, Cr 1x1, all quant table 0
    if _J420_BAD(i):
        return bytes(out[: len(out) // 2])
    out += _dht(0, 0, _DC_BITS, _DC_VALS)
    out += _dht(1, 0, _AC_BITS, _AC_VALS)
    out += struct.pack(">2sH", b"\xff\xda", 12) + bytes(
        [3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]
    )
    bwr = _BitWriter()
    pred = {1: 0, 2: 0, 3: 0}

    def emit(cs: int, value: int) -> None:
        level = value - 128
        diff = level - pred[cs]
        pred[cs] = level
        cat = abs(diff).bit_length()
        bwr.write(cat, 4)
        if cat:
            bwr.write(diff if diff > 0 else diff + (1 << cat) - 1, cat)
        bwr.write(0, 4)  # EOB

    for my in range(mh):
        for mx in range(mw):
            m = my * mw + mx
            for r in range(2):
                for c in range(2):
                    emit(1, _J420_Y(i, mx * 2 + c, my * 2 + r, mw))
            emit(2, _J420_CB(i, m))
            emit(3, _J420_CR(i, m))
    out += bwr.flush()
    out += b"\xff\xd9"
    return bytes(out)


_J422_MW = lambda i: 1 + i % 3  # noqa: E731  MCU cols (16 px each)
_J422_MH = lambda i: 1 + i % 3  # noqa: E731  MCU rows (8 px each)
_J422_WPAD = lambda i: i % 5  # noqa: E731
_J422_HPAD = lambda i: i % 3  # noqa: E731
_J422_BAD = lambda i: i % 13 == 0  # noqa: E731
_J422_Y = lambda i, bx, by, mw: (i * 59 + 31 * (by * 2 * mw + bx)) % 256  # noqa: E731
_J422_CB = lambda i, m: (i * 17 + 5 * m) % 256  # noqa: E731
_J422_CR = lambda i, m: (i * 31 + 11 * m) % 256  # noqa: E731


def _make_jpeg422(media_id: int, q_step: int = 8) -> bytes:
    """Real 4:2:2 chroma-subsampled color JPEG: Y at 2x1 sampling
    (horizontal-only — the broadcast/video-capture convention), Cb/Cr
    at 1x1; each MCU covers 16x8 pixels and carries 2 Y blocks + Cb +
    Cr. Chroma varies per MCU and Y per block, so wrong horizontal
    chroma mapping or a 4:2:0-style vertical repeat changes the sums.
    Ids hitting _J422_BAD are truncated corrupt blobs."""
    i = int(media_id)
    mw, mh = _J422_MW(i), _J422_MH(i)
    w, h = 16 * mw - _J422_WPAD(i), 8 * mh - _J422_HPAD(i)
    out = bytearray(b"\xff\xd8")
    out += struct.pack(">2sH", b"\xff\xdb", 2 + 65) + bytes([0x00]) + bytes(
        [q_step] * 64
    )
    out += struct.pack(">2sHBHHB", b"\xff\xc0", 17, 8, h, w, 3) + bytes(
        [1, 0x21, 0, 2, 0x11, 0, 3, 0x11, 0]
    )  # SOF0: Y 2x1, Cb 1x1, Cr 1x1
    if _J422_BAD(i):
        return bytes(out[: len(out) // 2])
    out += _dht(0, 0, _DC_BITS, _DC_VALS)
    out += _dht(1, 0, _AC_BITS, _AC_VALS)
    out += struct.pack(">2sH", b"\xff\xda", 12) + bytes(
        [3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]
    )
    bwr = _BitWriter()
    pred = {1: 0, 2: 0, 3: 0}

    def emit(cs: int, value: int) -> None:
        level = value - 128
        diff = level - pred[cs]
        pred[cs] = level
        cat = abs(diff).bit_length()
        bwr.write(cat, 4)
        if cat:
            bwr.write(diff if diff > 0 else diff + (1 << cat) - 1, cat)
        bwr.write(0, 4)  # EOB

    for my in range(mh):
        for mx in range(mw):
            m = my * mw + mx
            for c in range(2):
                emit(1, _J422_Y(i, mx * 2 + c, my, mw))
            emit(2, _J422_CB(i, m))
            emit(3, _J422_CR(i, m))
    out += bwr.flush()
    out += b"\xff\xd9"
    return bytes(out)


def synthesize_jpeg422_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL 4:2:2 color JPEG blobs."""
    return synthesize_blobs(
        docs,
        _make_jpeg422,
        lambda i: blob_meta(
            "corrupt" if _J422_BAD(i) else "jpeg",
            16 * _J422_MW(i) - _J422_WPAD(i),
            8 * _J422_MH(i) - _J422_HPAD(i),
        ),
    )


def synthesize_jpeg420_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of REAL 4:2:0 color JPEG blobs."""
    return synthesize_blobs(
        docs,
        _make_jpeg420,
        lambda i: blob_meta(
            "corrupt" if _J420_BAD(i) else "jpeg",
            16 * _J420_MW(i) - _J420_WPAD(i),
            16 * _J420_MH(i) - _J420_HPAD(i),
        ),
    )
