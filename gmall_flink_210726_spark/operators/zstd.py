"""Zstandard frame decoding (RFC 8878) from scratch — the modern
CommonCrawl and parquet codec, completing the hand-written codec
family next to DEFLATE (RFC 1951), gzip (1952), zlib (1950) and
Snappy. Nothing here calls a compression library: FSE (tANS) table
reading and state machines, Huffman-coded literals (including
FSE-compressed weight tables and the 4-stream split), the sequences
section with all four symbol-compression modes, repeat offsets, and
the LZ77 execute loop are all implemented from the RFC's grammar.
The reference encoder (pyarrow's bundled zstd) appears in tests and
fixture synthesis ONLY — the validate-the-hand-decoder pattern used
for every other codec in this repo.

Layout of a frame (RFC 8878 §3):

    magic 0xFD2FB528 LE
    frame header: descriptor byte (FCS size code, single-segment,
      checksum, dict-id code), [window descriptor], [dict id],
      [frame content size]
    blocks: 3-byte header (last/type/size) + content
      raw | RLE | compressed(literals section + sequences section)
    [xxhash64 low 32 bits of the decoded content]

The content checksum, when present, is verified with a from-scratch
XXH64 (public domain algorithm, Collet) — so even the integrity
check is self-hosting.

Dictionaries (RFC 8878 §5) ARE supported: ``parse_zstd_dictionary``
reads the 0xEC30A437 format (entropy tables that pre-seed the first
block's repeat modes, the three replacement repeat offsets, and the
content that primes the match window), and ``iter_zstd_frames``
resolves each frame's Dictionary_ID against explicitly supplied
dictionaries plus any auto-registered from the stream itself: the
``.warc.zst`` convention (iipc warc-specifications) stores the
trained dictionary in a LEADING skippable frame with magic
0x184D2A5D, optionally itself zstd-compressed. A frame naming an
unknown dictionary refuses (decoding without the dictionary would
produce garbage).

Every grammar violation raises ValueError; callers degrade the row.
"""

from __future__ import annotations

import struct

# ---------------------------------------------------------------------------
# Bit readers. FSE/Huffman bitstreams are read BACKWARD: the last
# byte carries a 1-bit end marker in its highest set bit; reading
# proceeds from just below the marker toward the first byte, taking
# the most significant remaining bits first. Table descriptions are
# read FORWARD, LSB-first.
# ---------------------------------------------------------------------------


class _BackBits:
    """Backward bitstream over ``data``: ``read(n)`` returns the next
    n bits (MSB-first from the end), ``peek(n)`` pads zeros past the
    origin the way the reference decoder's final reloads do."""

    __slots__ = ("val", "pos")

    def __init__(self, data: bytes):
        if not data:
            raise ValueError("zstd: empty bitstream")
        last = data[-1]
        if last == 0:
            raise ValueError("zstd: bitstream has no end marker")
        self.val = int.from_bytes(data, "little")
        self.pos = (len(data) - 1) * 8 + last.bit_length() - 1

    def read(self, n: int) -> int:
        self.pos -= n
        if self.pos < 0:
            raise ValueError("zstd: bitstream exhausted")
        return (self.val >> self.pos) & ((1 << n) - 1)

    def read_padded(self, n: int) -> int:
        """Like read but past-origin bits are zeros and pos may go
        negative — the FSE weight tail and final Huffman symbols."""
        self.pos -= n
        if self.pos >= 0:
            return (self.val >> self.pos) & ((1 << n) - 1)
        if self.pos <= -n:
            return 0
        return (self.val << -self.pos) & ((1 << n) - 1)

    def peek(self, n: int) -> int:
        if self.pos >= n:
            return (self.val >> (self.pos - n)) & ((1 << n) - 1)
        if self.pos <= 0:
            return 0
        return (self.val << (n - self.pos)) & ((1 << n) - 1)


# ---------------------------------------------------------------------------
# FSE — Finite State Entropy (tANS). Table description (RFC §4.1.1),
# decoding-table construction, and the alternating-two-state stream
# used for Huffman weights.
# ---------------------------------------------------------------------------


def _fse_read_ncount(
    data: bytes, max_symbol: int, max_log: int
) -> tuple[list[int], int, int]:
    """Forward LSB-first read of normalized counts. Returns
    ``(counts, table_log, n_bytes_consumed)``; counts may include -1
    ('less than one' probability)."""
    big = int.from_bytes(data, "little")
    nbits_avail = len(data) * 8
    pos = 0

    def read(n: int) -> int:
        nonlocal pos
        if pos + n > nbits_avail:
            raise ValueError("zstd: FSE header overruns")
        v = (big >> pos) & ((1 << n) - 1)
        pos += n
        return v

    table_log = read(4) + 5
    if table_log > max_log:
        raise ValueError("zstd: FSE accuracy log too large")
    remaining = (1 << table_log) + 1
    threshold = 1 << table_log
    nbits = table_log + 1
    counts: list[int] = []
    prev0 = False
    while remaining > 1:
        if len(counts) > max_symbol:
            raise ValueError("zstd: FSE too many symbols")
        if prev0:
            # runs of zero-probability symbols, 2-bit repeat flags
            while True:
                rep = read(2)
                counts.extend([0] * (rep if rep < 3 else 3))
                if rep < 3:
                    break
            if len(counts) > max_symbol + 1:
                raise ValueError("zstd: FSE zero run overruns alphabet")
            prev0 = False
            continue
        max_small = (2 * threshold - 1) - remaining
        v = (big >> pos) & (2 * threshold - 1)  # peek nbits
        if (v & (threshold - 1)) < max_small:
            count = v & (threshold - 1)
            pos += nbits - 1
        else:
            count = v
            if count >= threshold:
                count -= max_small
            pos += nbits
        if pos > nbits_avail:
            raise ValueError("zstd: FSE header overruns")
        count -= 1  # shifted encoding: -1 means 'less than one'
        remaining -= -count if count < 0 else count
        counts.append(count)
        prev0 = count == 0
        while remaining < threshold:
            nbits -= 1
            threshold >>= 1
    if remaining != 1:
        raise ValueError("zstd: FSE counts do not sum to table size")
    return counts, table_log, (pos + 7) // 8


def _fse_build_dtable(
    counts: list[int], table_log: int
) -> list[tuple[int, int, int]]:
    """Normalized counts -> decode table: entry (symbol, nbits,
    base_state). -1 counts get one cell each at the table's end."""
    size = 1 << table_log
    table_sym = [0] * size
    high = size - 1
    next_count = list(counts)
    for s, c in enumerate(counts):
        if c == -1:
            table_sym[high] = s
            high -= 1
            next_count[s] = 1
    step = (size >> 1) + (size >> 3) + 3
    pos = 0
    for s, c in enumerate(counts):
        if c <= 0:
            continue
        for _ in range(c):
            table_sym[pos] = s
            pos = (pos + step) & (size - 1)
            while pos > high:
                pos = (pos + step) & (size - 1)
    if pos != 0:
        raise ValueError("zstd: FSE spread did not close")
    table: list[tuple[int, int, int]] = []
    for u in range(size):
        s = table_sym[u]
        nxt = next_count[s]
        next_count[s] += 1
        nb = table_log - (nxt.bit_length() - 1)
        table.append((s, nb, (nxt << nb) - size))
    return table


def _fse_decode_stream(
    data: bytes, table: list[tuple[int, int, int]], table_log: int,
    max_out: int,
) -> list[int]:
    """Alternating two-state FSE stream (Huffman weights): decode
    until the backward bitstream is exhausted (reference tail
    semantics: when a state update overruns the origin, the OTHER
    state flushes its symbol and decoding stops)."""
    bits = _BackBits(data)
    s1 = bits.read(table_log)
    s2 = bits.read(table_log)
    out: list[int] = []
    while True:
        if len(out) > max_out:
            raise ValueError("zstd: FSE stream too long")
        sym, nb, base = table[s1]
        out.append(sym)
        s1 = base + bits.read_padded(nb)
        if bits.pos < 0:
            out.append(table[s2][0])
            break
        sym, nb, base = table[s2]
        out.append(sym)
        s2 = base + bits.read_padded(nb)
        if bits.pos < 0:
            out.append(table[s1][0])
            break
    if len(out) > max_out:
        raise ValueError("zstd: FSE stream too long")
    return out


# ---------------------------------------------------------------------------
# Huffman literals (RFC §4.2): weights -> canonical table; single- or
# four-stream decode.
# ---------------------------------------------------------------------------


def _huf_read_weights(data: bytes) -> tuple[list[int], int]:
    """Huffman tree description -> (weights incl. the implied last
    one, header bytes consumed)."""
    if not data:
        raise ValueError("zstd: empty huffman description")
    h = data[0]
    if h >= 128:  # direct: 4-bit weights, two per byte
        n = h - 127
        nbytes = (n + 1) // 2
        if 1 + nbytes > len(data):
            raise ValueError("zstd: huffman weights overrun")
        ws = []
        for k in range(n):
            b = data[1 + k // 2]
            ws.append((b >> 4) if k % 2 == 0 else (b & 0xF))
        consumed = 1 + nbytes
    else:  # FSE-compressed weights, h = compressed size
        if 1 + h > len(data):
            raise ValueError("zstd: huffman FSE weights overrun")
        blob = data[1 : 1 + h]
        counts, tlog, hdr = _fse_read_ncount(blob, 255, 6)
        table = _fse_build_dtable(counts, tlog)
        ws = _fse_decode_stream(blob[hdr:], table, tlog, 255)
        consumed = 1 + h
    # the LAST weight is implied: listed weights must leave a
    # power-of-two-sized hole below the next power of two
    total = sum((1 << (w - 1)) for w in ws if w > 0)
    if total == 0:
        raise ValueError("zstd: huffman weights empty")
    rest = (1 << total.bit_length()) - total
    if rest <= 0 or rest & (rest - 1):
        raise ValueError("zstd: huffman weights do not close")
    ws.append(rest.bit_length())
    if max(ws) > 11:
        raise ValueError("zstd: huffman weight too large")
    return ws, consumed


def _huf_build_dtable(
    weights: list[int],
) -> tuple[list[tuple[int, int]], int]:
    """Weights -> (table of 2^log entries (symbol, nbits), log).
    Cells go to weights ascending, symbols ascending within a
    weight; nbits = log + 1 - weight."""
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    tlog = total.bit_length() - 1
    if (1 << tlog) != total:
        raise ValueError("zstd: huffman weights not normalized")
    max_w = max(weights)
    table: list[tuple[int, int]] = [(-1, 0)] * (1 << tlog)
    pos = 0
    for w in range(1, max_w + 1):
        span = 1 << (w - 1)
        for s, ws in enumerate(weights):
            if ws != w:
                continue
            for k in range(span):
                table[pos + k] = (s, tlog + 1 - w)
            pos += span
    if pos != 1 << tlog:
        raise ValueError("zstd: huffman table not filled")
    return table, tlog


def _huf_decode_one(
    data: bytes, table: list[tuple[int, int]], tlog: int, n_out: int
) -> bytearray:
    bits = _BackBits(data)
    out = bytearray()
    for _ in range(n_out):
        sym, nb = table[bits.peek(tlog)]
        if sym < 0:
            raise ValueError("zstd: huffman dead cell")
        bits.pos -= nb
        if bits.pos < 0:
            raise ValueError("zstd: huffman stream exhausted")
        out.append(sym)
    if bits.pos != 0:
        raise ValueError("zstd: huffman stream not fully consumed")
    return out


def _huf_decode_literals(
    data: bytes,
    table: list[tuple[int, int]],
    tlog: int,
    regen: int,
    four: bool,
) -> bytearray:
    if not four:
        return _huf_decode_one(data, table, tlog, regen)
    if len(data) < 6:
        raise ValueError("zstd: missing jump table")
    s1, s2, s3 = struct.unpack_from("<HHH", data, 0)
    p = 6
    sizes = [s1, s2, s3, len(data) - 6 - s1 - s2 - s3]
    if sizes[3] <= 0:
        raise ValueError("zstd: jump table overruns")
    per = (regen + 3) // 4
    outs = bytearray()
    for k in range(4):
        n = per if k < 3 else regen - 3 * per
        if n < 0:
            raise ValueError("zstd: bad 4-stream split")
        outs += _huf_decode_one(data[p : p + sizes[k]], table, tlog, n)
        p += sizes[k]
    return outs


# ---------------------------------------------------------------------------
# Sequences (RFC §3.1.1.3.2): code -> (baseline, extra bits) tables,
# predefined FSE distributions, and the three-state interleaved
# decode.
# ---------------------------------------------------------------------------

_LL_BASE = [
    0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024,
    2048, 4096, 8192, 16384, 32768, 65536,
]
_LL_BITS = [
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
]
_ML_BASE = [
    3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20,
    21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35, 37,
    39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027, 2051,
    4099, 8195, 16387, 32771, 65539,
]
_ML_BITS = [
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3,
    4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
]

# RFC 8878 predefined distributions
_LL_DEFAULT = (
    [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2,
     2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1],
    6,
)
_ML_DEFAULT = (
    [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1],
    6,
)
_OF_DEFAULT = (
    [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, -1, -1, -1, -1, -1],
    5,
)

_MAX_LOG = {"ll": 9, "of": 8, "ml": 9}
_MAX_SYM = {"ll": 35, "of": 31, "ml": 52}
_DEFAULTS = {"ll": _LL_DEFAULT, "of": _OF_DEFAULT, "ml": _ML_DEFAULT}


def _seq_table(
    kind: str, mode: int, data: bytes, prev: dict
) -> tuple[list[tuple[int, int, int]], int, int]:
    """One symbol-compression-mode header -> (dtable, table_log,
    bytes consumed). RLE is modeled as a 1-entry zero-bit table."""
    if mode == 0:  # predefined
        counts, tlog = _DEFAULTS[kind]
        key = ("pre", kind)
        if key not in prev:
            prev[key] = _fse_build_dtable(counts, tlog)
        table = prev[key]
        prev[kind] = (table, tlog)
        return table, tlog, 0
    if mode == 1:  # RLE: one byte, a single symbol, 0 bits per read
        if not data:
            raise ValueError("zstd: missing RLE symbol")
        sym = data[0]
        if sym > _MAX_SYM[kind]:
            raise ValueError("zstd: RLE symbol out of range")
        table = [(sym, 0, 0)]
        prev[kind] = (table, 0)
        return table, 0, 1
    if mode == 2:  # FSE-described
        counts, tlog, used = _fse_read_ncount(
            data, _MAX_SYM[kind], _MAX_LOG[kind]
        )
        table = _fse_build_dtable(counts, tlog)
        prev[kind] = (table, tlog)
        return table, tlog, used
    if mode == 3:  # repeat previous table
        if kind not in prev:
            raise ValueError("zstd: repeat mode with no previous table")
        table, tlog = prev[kind]
        return table, tlog, 0
    raise ValueError("zstd: bad compression mode")


def _decode_sequences(
    data: bytes, prev: dict
) -> list[tuple[int, int, int]]:
    """Sequences section -> list of (literals_len, offset_value,
    match_len) with offset_value still in coded (+3 repeat) space."""
    if not data:
        raise ValueError("zstd: empty sequences section")
    b0 = data[0]
    p = 1
    if b0 == 0:
        if len(data) != 1:
            raise ValueError("zstd: trailing bytes after 0 sequences")
        return []
    if b0 < 128:
        nseq = b0
    elif b0 < 255:
        if len(data) < 2:
            raise ValueError("zstd: truncated sequence count")
        nseq = ((b0 - 128) << 8) + data[1]
        p = 2
    else:
        if len(data) < 3:
            raise ValueError("zstd: truncated sequence count")
        nseq = data[1] + (data[2] << 8) + 0x7F00
        p = 3
    if p >= len(data):
        raise ValueError("zstd: missing compression modes")
    modes = data[p]
    p += 1
    if modes & 3:
        raise ValueError("zstd: reserved mode bits set")
    ll_t, ll_log, used = _seq_table("ll", (modes >> 6) & 3, data[p:], prev)
    p += used
    of_t, of_log, used = _seq_table("of", (modes >> 4) & 3, data[p:], prev)
    p += used
    ml_t, ml_log, used = _seq_table("ml", (modes >> 2) & 3, data[p:], prev)
    p += used
    bits = _BackBits(data[p:])
    ll_s = bits.read(ll_log)
    of_s = bits.read(of_log)
    ml_s = bits.read(ml_log)
    out: list[tuple[int, int, int]] = []
    for i in range(nseq):
        of_code = of_t[of_s][0]
        if of_code > 31:
            raise ValueError("zstd: offset code out of range")
        offset_value = (1 << of_code) + bits.read(of_code)
        ml_code = ml_t[ml_s][0]
        ml = _ML_BASE[ml_code] + bits.read(_ML_BITS[ml_code])
        ll_code = ll_t[ll_s][0]
        ll = _LL_BASE[ll_code] + bits.read(_LL_BITS[ll_code])
        out.append((ll, offset_value, ml))
        if i + 1 < nseq:  # update order: LL, ML, OF (RFC §3.1.1.3.2.1.2)
            sym, nb, base = ll_t[ll_s]
            ll_s = base + bits.read(nb)
            sym, nb, base = ml_t[ml_s]
            ml_s = base + bits.read(nb)
            sym, nb, base = of_t[of_s]
            of_s = base + bits.read(nb)
    if bits.pos != 0:
        raise ValueError("zstd: sequence bitstream not fully consumed")
    return out


# ---------------------------------------------------------------------------
# Literals section (RFC §3.1.1.3.1)
# ---------------------------------------------------------------------------


def _decode_literals(data: bytes, prev: dict) -> tuple[bytes, int]:
    """Literals section -> (literals, bytes consumed)."""
    if not data:
        raise ValueError("zstd: empty literals section")
    b0 = data[0]
    ltype = b0 & 3
    sfmt = (b0 >> 2) & 3
    if ltype in (0, 1):  # raw / RLE
        if sfmt & 1 == 0:  # 00 or 10: 1-byte header, 5-bit size
            regen = b0 >> 3
            p = 1
        elif sfmt == 1:
            if len(data) < 2:
                raise ValueError("zstd: truncated literals header")
            regen = (b0 >> 4) + (data[1] << 4)
            p = 2
        else:
            if len(data) < 3:
                raise ValueError("zstd: truncated literals header")
            regen = (b0 >> 4) + (data[1] << 4) + (data[2] << 12)
            p = 3
        if ltype == 0:
            if p + regen > len(data):
                raise ValueError("zstd: raw literals overrun")
            return bytes(data[p : p + regen]), p + regen
        if p + 1 > len(data):
            raise ValueError("zstd: RLE literal missing")
        return bytes([data[p]]) * regen, p + 1
    # compressed (2) or treeless (3)
    if sfmt == 0:
        if len(data) < 3:
            raise ValueError("zstd: truncated literals header")
        regen = (b0 >> 4) + ((data[1] & 0x3F) << 4)
        comp = (data[1] >> 6) + (data[2] << 2)
        p, four = 3, False
    elif sfmt == 1:
        if len(data) < 3:
            raise ValueError("zstd: truncated literals header")
        regen = (b0 >> 4) + ((data[1] & 0x3F) << 4)
        comp = (data[1] >> 6) + (data[2] << 2)
        p, four = 3, True
    elif sfmt == 2:
        if len(data) < 4:
            raise ValueError("zstd: truncated literals header")
        regen = (b0 >> 4) + (data[1] << 4) + ((data[2] & 3) << 12)
        comp = (data[2] >> 2) + (data[3] << 6)
        p, four = 4, True
    else:
        if len(data) < 5:
            raise ValueError("zstd: truncated literals header")
        regen = (b0 >> 4) + (data[1] << 4) + ((data[2] & 0x3F) << 12)
        comp = (data[2] >> 6) + (data[3] << 2) + (data[4] << 10)
        p, four = 5, True
    if p + comp > len(data):
        raise ValueError("zstd: compressed literals overrun")
    blob = data[p : p + comp]
    if ltype == 2:
        weights, used = _huf_read_weights(blob)
        table, tlog = _huf_build_dtable(weights)
        prev["huf"] = (table, tlog)
        blob = blob[used:]
    else:
        if "huf" not in prev:
            raise ValueError("zstd: treeless literals with no table")
        table, tlog = prev["huf"]
    lits = _huf_decode_literals(blob, table, tlog, regen, four)
    if len(lits) != regen:
        raise ValueError("zstd: literal count mismatch")
    return bytes(lits), p + comp


# ---------------------------------------------------------------------------
# Block and frame walks
# ---------------------------------------------------------------------------


def _decode_block(data: bytes, out: bytearray, prev: dict) -> None:
    lits, used = _decode_literals(data, prev)
    seqs = _decode_sequences(data[used:], prev)
    lpos = 0
    reps = prev.setdefault("reps", [1, 4, 8])
    for ll, oval, ml in seqs:
        if lpos + ll > len(lits):
            raise ValueError("zstd: literals overrun in sequence")
        out += lits[lpos : lpos + ll]
        lpos += ll
        if oval > 3:
            offset = oval - 3
            reps[2] = reps[1]
            reps[1] = reps[0]
            reps[0] = offset
        else:
            idx = oval - 1 if ll != 0 else oval  # shifted when LL==0
            if idx == 0:
                offset = reps[0]
            elif idx == 1:
                offset = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
            elif idx == 2:
                offset = reps[2]
                reps[2] = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
            else:  # LL==0 and value 3: Repeated_Offset1 - 1
                offset = reps[0] - 1
                if offset == 0:
                    raise ValueError("zstd: zero repeat offset")
                reps[2] = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
        if offset > len(out):
            raise ValueError("zstd: match before stream start")
        start = len(out) - offset
        if offset >= ml:
            out += out[start : start + ml]
        else:  # overlapping copy extends byte-by-byte (LZ77)
            for k in range(ml):
                out.append(out[start + k])
    out += lits[lpos:]


_DICT_MAGIC = 0xEC30A437  # RFC 8878 §5
_WARC_DICT_MAGIC = 0x184D2A5D  # iipc .warc.zst dictionary slot


def parse_zstd_dictionary(raw: bytes) -> dict:
    """RFC 8878 §5 dictionary: magic, Dictionary_ID, entropy tables
    (Huffman literals, then FSE offsets / match-lengths /
    literals-lengths — they pre-seed the first compressed block's
    repeat modes), three replacement repeat offsets (each nonzero
    and <= content size), then the content that primes the LZ77
    window. Raises ValueError on any violation."""
    if len(raw) < 8:
        raise ValueError("zstd: dictionary too short")
    (magic, did) = struct.unpack_from("<II", raw, 0)
    if magic != _DICT_MAGIC:
        raise ValueError("zstd: bad dictionary magic")
    if did == 0:
        raise ValueError("zstd: dictionary id 0 is reserved")
    pos = 8
    weights, used = _huf_read_weights(raw[pos:])
    huf = _huf_build_dtable(weights)
    pos += used
    tables: dict[str, tuple] = {}
    for kind in ("of", "ml", "ll"):
        counts, tlog, used = _fse_read_ncount(
            raw[pos:], _MAX_SYM[kind], _MAX_LOG[kind]
        )
        tables[kind] = (_fse_build_dtable(counts, tlog), tlog)
        pos += used
    if pos + 12 > len(raw):
        raise ValueError("zstd: dictionary missing repeat offsets")
    reps = list(struct.unpack_from("<III", raw, pos))
    pos += 12
    content = bytes(raw[pos:])
    for r in reps:
        if r == 0 or r > len(content):
            raise ValueError("zstd: dictionary repeat offset invalid")
    return {
        "dict_id": did,
        "huf": huf,
        "ll": tables["ll"],
        "of": tables["of"],
        "ml": tables["ml"],
        "reps": reps,
        "content": content,
    }


def _register_warc_dict(blob: bytes, registered: dict) -> None:
    """A 0x184D2A5D skippable frame's content is the dictionary,
    possibly itself a zstd frame (the spec allows either)."""
    if blob[:4] == b"\x28\xb5\x2f\xfd":  # zstd magic LE
        blob = zstd_decompress(blob)
    d = parse_zstd_dictionary(blob)
    registered[d["dict_id"]] = d


_PA_ZSTD = None


def _scan_frame_blocks(data: bytes, pos: int) -> int:
    """Walk block headers from ``pos`` (first block of a frame) to the
    frame's end position (exclusive of any content checksum) WITHOUT
    decoding block bodies — the framing-grammar prefix of the full
    decode loop, used to hand a whole frame to libzstd."""
    while True:
        if pos + 3 > len(data):
            raise ValueError("zstd: truncated block header")
        hdr = data[pos] | (data[pos + 1] << 8) | (data[pos + 2] << 16)
        pos += 3
        last, btype, bsize = hdr & 1, (hdr >> 1) & 3, hdr >> 3
        if btype == 0:  # raw
            if pos + bsize > len(data):
                raise ValueError("zstd: raw block overruns")
            pos += bsize
        elif btype == 1:  # RLE
            if pos + 1 > len(data):
                raise ValueError("zstd: RLE block overruns")
            pos += 1
        elif btype == 2:
            if pos + bsize > len(data):
                raise ValueError("zstd: compressed block overruns")
            pos += bsize
        else:
            raise ValueError("zstd: reserved block type")
        if last:
            return pos


def iter_zstd_frames(data: bytes, dicts: dict | None = None):
    """Walk a stream of concatenated zstd frames, yielding
    ``(payload_bytes, had_checksum)`` per CONTENT frame (skippable
    frames yield ``(None, False)``). ``dicts`` maps Dictionary_ID ->
    ``parse_zstd_dictionary`` output for out-of-band dictionaries;
    0x184D2A5D skippable frames auto-register in-band (module doc).
    Raises ValueError on any grammar violation, size mismatch,
    checksum failure, or unresolvable Dictionary_ID."""
    pos = 0
    registered = dict(dicts) if dicts else {}
    if not data:
        raise ValueError("zstd: empty input")
    while pos < len(data):
        if pos + 4 > len(data):
            raise ValueError("zstd: truncated magic")
        (magic,) = struct.unpack_from("<I", data, pos)
        if (magic & 0xFFFFFFF0) == 0x184D2A50:  # skippable frame
            if pos + 8 > len(data):
                raise ValueError("zstd: truncated skippable frame")
            (fsz,) = struct.unpack_from("<I", data, pos + 4)
            if pos + 8 + fsz > len(data):
                raise ValueError("zstd: skippable frame overruns")
            if magic == _WARC_DICT_MAGIC:
                _register_warc_dict(
                    bytes(data[pos + 8 : pos + 8 + fsz]), registered
                )
            pos += 8 + fsz
            yield None, False
            continue
        if magic != 0xFD2FB528:
            raise ValueError("zstd: bad magic")
        frame_start = pos
        pos += 4
        if pos >= len(data):
            raise ValueError("zstd: missing frame header")
        desc = data[pos]
        pos += 1
        fcs_code = desc >> 6
        single = (desc >> 5) & 1
        if (desc >> 3) & 3:
            raise ValueError("zstd: reserved descriptor bits set")
        has_checksum = (desc >> 2) & 1
        did_code = desc & 3
        if not single:
            if pos >= len(data):
                raise ValueError("zstd: missing window descriptor")
            pos += 1  # window size is advisory for a full decode
        did = 0
        if did_code:
            nb = (0, 1, 2, 4)[did_code]
            if pos + nb > len(data):
                raise ValueError("zstd: truncated dictionary id")
            did = int.from_bytes(data[pos : pos + nb], "little")
            pos += nb
        fcs_bytes = (0, 2, 4, 8)[fcs_code]
        if single and fcs_code == 0:
            fcs_bytes = 1
        fcs = None
        if fcs_bytes:
            if pos + fcs_bytes > len(data):
                raise ValueError("zstd: truncated content size")
            fcs = int.from_bytes(data[pos : pos + fcs_bytes], "little")
            if fcs_bytes == 2:
                fcs += 256
            pos += fcs_bytes
        # FAST PATH (optimization round 14, guide §4.2; narrowed round
        # 15): dictionary-free frames with a declared content size AND
        # a content checksum decode through libzstd (via the Arrow C++
        # codec) after a cheap block-extent scan that applies the same
        # framing grammar as the loop below. libzstd verifies the XXH64
        # content checksum and the declared content size itself, so
        # every refusal the hand loop would raise on a tampered frame
        # still raises ValueError here. Checksum-less frames (e.g.
        # pyarrow-written ORC zstd chunks) stay on the strict from-spec
        # loop: libzstd is laxer block-internally (it accepts some
        # corrupt huffman streams the hand loop rejects), and without a
        # checksum nothing else catches that. Dictionary frames and
        # unknown-size frames take the from-spec loop below too, which
        # also remains the executable documentation of RFC 8878 and is
        # differentially fuzz-tested in tests/test_codec_fastpaths.py.
        if did == 0 and has_checksum and fcs is not None and fcs <= (1 << 26):
            end = _scan_frame_blocks(data, pos)
            if end + 4 > len(data):
                raise ValueError("zstd: truncated checksum")
            end += 4
            global _PA_ZSTD
            if _PA_ZSTD is None:
                import pyarrow as pa

                _PA_ZSTD = pa.Codec("zstd")
            try:
                content = bytes(
                    _PA_ZSTD.decompress(data[frame_start:end], fcs)
                )
            except Exception as exc:
                raise ValueError(f"zstd: {exc}") from None
            pos = end
            yield content, bool(has_checksum)
            continue
        # per-frame buffer: matches may never reach into a previous
        # frame's output — only into this frame's dictionary content,
        # which primes the window as a stripped prefix
        frame_out = bytearray()
        prev: dict = {}
        hist = 0
        if did:
            d = registered.get(did)
            if d is None:
                raise ValueError(
                    f"zstd: frame references unknown dictionary {did}"
                )
            frame_out += d["content"]
            hist = len(d["content"])
            prev["huf"] = d["huf"]
            prev["ll"] = d["ll"]
            prev["of"] = d["of"]
            prev["ml"] = d["ml"]
            prev["reps"] = list(d["reps"])
        while True:
            if pos + 3 > len(data):
                raise ValueError("zstd: truncated block header")
            hdr = data[pos] | (data[pos + 1] << 8) | (data[pos + 2] << 16)
            pos += 3
            last, btype, bsize = hdr & 1, (hdr >> 1) & 3, hdr >> 3
            if btype == 0:  # raw
                if pos + bsize > len(data):
                    raise ValueError("zstd: raw block overruns")
                frame_out += data[pos : pos + bsize]
                pos += bsize
            elif btype == 1:  # RLE: one byte repeated bsize times
                if pos + 1 > len(data):
                    raise ValueError("zstd: RLE block overruns")
                frame_out += bytes([data[pos]]) * bsize
                pos += 1
            elif btype == 2:
                if pos + bsize > len(data):
                    raise ValueError("zstd: compressed block overruns")
                _decode_block(data[pos : pos + bsize], frame_out, prev)
                pos += bsize
            else:
                raise ValueError("zstd: reserved block type")
            if last:
                break
        content = bytes(frame_out[hist:])  # strip dictionary priming
        if fcs is not None and len(content) != fcs:
            raise ValueError("zstd: content size mismatch")
        if has_checksum:
            if pos + 4 > len(data):
                raise ValueError("zstd: truncated checksum")
            (want,) = struct.unpack_from("<I", data, pos)
            pos += 4
            got = xxh64(content) & 0xFFFFFFFF
            if got != want:
                raise ValueError("zstd: content checksum mismatch")
        yield content, bool(has_checksum)


def zstd_decompress(data: bytes, dicts: dict | None = None) -> bytes:
    """Decode one zstd frame (plus any following frames, skippable
    frames skipped) and return the concatenated content. Raises
    ValueError on any grammar violation, size mismatch, or checksum
    failure."""
    return b"".join(
        payload for payload, _ in iter_zstd_frames(data, dicts)
        if payload is not None
    )


# ---------------------------------------------------------------------------
# XXH64 (Collet, public domain reference) — zstd's content checksum.
# ---------------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = 0xFFFFFFFFFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _M
    return (_rotl(acc, 31) * _P1) & _M


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (
            _rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)
        ) & _M
        for v in (v1, v2, v3, v4):
            h = ((h ^ _round(0, v)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        k = _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h ^ k, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        k = (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h ^ k, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        k = (data[i] * _P5) & _M
        h = (_rotl(h ^ k, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


# ---------------------------------------------------------------------------
# Spark surface: Arrow-batched frame-walk stats over MEDIA_SCHEMA
# blobs, and fixture synthesis (reference-compressed by pyarrow's
# bundled zstd — encoder-side only, the validate-the-hand-decoder
# pattern).
# ---------------------------------------------------------------------------


def zstd_stream_stats_one(data: bytes) -> dict | None:
    """Full stream walk -> aggregate decode proofs, or None."""
    try:
        n_frames = n_checksummed = n_skippable = 0
        total = 0
        psum = 0
        for payload, checked in iter_zstd_frames(data):
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


def _import_pd():
    import pandas as pd

    return pd


ZSTD_SCHEMA = None


def _zstd_schema():
    global ZSTD_SCHEMA
    if ZSTD_SCHEMA is None:
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        ZSTD_SCHEMA = StructType(
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
    return ZSTD_SCHEMA


def zstd_frame_stats(df):
    """Frame-walk stats over MEDIA_SCHEMA blobs (module doc)."""
    from gmall_flink_210726_spark.session import ship_package

    ship_package(df.sparkSession)
    pd = _import_pd()
    schema = _zstd_schema()
    cols = [f.name for f in schema.fields]

    def gen(batches):
        for pdf in batches:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                mid = int(mid)
                row = {
                    "media_id": mid,
                    "format": "unknown",
                    "n_frames": 0,
                    "n_checksummed": 0,
                    "n_skippable": 0,
                    "decoded_len": 0,
                    "payload_sum": 0,
                }
                b = bytes(blob) if blob is not None else b""
                try:
                    st = zstd_stream_stats_one(b)
                except Exception:
                    st = None
                if st is not None:
                    row.update(format="zstd", **st)
                out.append(row)
            yield pd.DataFrame(out, columns=cols)

    return df.select("media_id", "content").mapInPandas(gen, schema)


def add_content_checksum(frame: bytes) -> bytes:
    """Set a single-frame's Content_Checksum flag and append the
    XXH64 low word of its content — fixture/encoder-side helper that
    exercises the decoder's checksum verification with frames the
    reference encoder (which writes none by default) can't produce.
    Only valid for a frame WITHOUT an existing checksum."""
    desc = frame[4]
    if (desc >> 2) & 1:
        raise ValueError("frame already checksummed")
    content = zstd_decompress(frame)
    return (
        frame[:4]
        + bytes([desc | 0x04])
        + frame[5:]
        + struct.pack("<I", xxh64(content) & 0xFFFFFFFF)
    )


def _run_text_z(i: int, j: int, size: int) -> bytes:
    """Same stateless-run formula family as the gzip fixtures
    (operators/inflate.py _run_text): byte k of payload (i, j)
    depends only on (i, j, k//5), so a DuckDB oracle recomputes the
    byte sum blind while zstd's LZ77 + entropy paths both exercise."""
    return bytes(
        97 + ((i * 7 + 13 * j + (k // 5) * 11) % 7) for k in range(size)
    )


def _make_zstd_stream(i: int) -> bytes:
    """``1 + i % 3`` zstd frames concatenated, frame j compressing
    the stateless run text of length ``200 + (i * 43 + 29 * j) %
    600`` at level ``1 + 6 * (i % 4)`` (1/7/13/19 — different
    levels exercise different literal/sequence entropy modes). Odd
    j frames get a content checksum added (from-scratch XXH64 on
    both sides). Every 5th id is prefixed with a skippable frame.
    Every 9th id is the corrupt stripe: ALL its frames are force-
    checksummed, then the middle byte of the LAST frame is XORed —
    the flip is caught DETERMINISTICALLY (grammar break, size
    mismatch, or the checksum), never a silent wrong decode."""
    import pyarrow as pa

    codec = pa.Codec("zstd", compression_level=1 + 6 * (i % 4))
    n = 1 + i % 3
    bad = i % 9 == 0
    parts = []
    if i % 5 == 0:
        pad = bytes(4 + i % 8)
        parts.append(
            struct.pack("<II", 0x184D2A50, len(pad)) + pad
        )
    for j in range(n):
        frame = bytes(
            codec.compress(_run_text_z(i, j, 200 + (i * 43 + 29 * j) % 600))
        )
        if bad or j % 2 == 1:
            frame = add_content_checksum(frame)
        parts.append(frame)
    if bad:
        last = bytearray(parts[-1])
        last[len(last) // 2] ^= 0x55
        parts[-1] = bytes(last)
    return b"".join(parts)


def synthesize_zstd_media(docs):
    """MEDIA_SCHEMA table of concatenated zstd frames."""
    from gmall_flink_210726_spark.operators.multimodal import MEDIA_SCHEMA
    from gmall_flink_210726_spark.session import (
        ensure_parallelism,
        ship_package,
    )

    ship_package(docs.sparkSession)
    docs = ensure_parallelism(docs.select("doc_id"))
    pd = _import_pd()

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [_make_zstd_stream(int(i)) for i in ids],
                    "meta": [
                        {
                            "format": "zstd",
                            "width": 0,
                            "height": 0,
                            "sample_rate": 0,
                        }
                        for _ in ids
                    ],
                }
            )

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# Reference-encoder bindings for DICTIONARY fixtures and tests. The
# repo's validate-the-hand-decoder pattern needs frames a REAL
# encoder produced against a REAL trained dictionary; pyarrow's
# bundled zstd exposes no dictionary API, so these go through
# libzstd's public C ABI (ZDICT_trainFromBuffer /
# ZSTD_compress_usingDict) via ctypes. Fixture/test side only — the
# decode path above never touches a library.
# ---------------------------------------------------------------------------


_LIBZSTD = None


def _libzstd():
    global _LIBZSTD
    if _LIBZSTD is not None:
        return _LIBZSTD
    import ctypes
    import ctypes.util

    name = ctypes.util.find_library("zstd")
    if name is None:  # pragma: no cover - container always has it
        raise RuntimeError("libzstd not found for fixture synthesis")
    lib = ctypes.CDLL(name)
    for fn, res, args in (
        ("ZDICT_trainFromBuffer", ctypes.c_size_t,
         [ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p,
          ctypes.POINTER(ctypes.c_size_t), ctypes.c_uint]),
        ("ZDICT_isError", ctypes.c_uint, [ctypes.c_size_t]),
        ("ZSTD_isError", ctypes.c_uint, [ctypes.c_size_t]),
        ("ZSTD_compressBound", ctypes.c_size_t, [ctypes.c_size_t]),
        ("ZSTD_createCCtx", ctypes.c_void_p, []),
        ("ZSTD_freeCCtx", ctypes.c_size_t, [ctypes.c_void_p]),
        ("ZSTD_compress_usingDict", ctypes.c_size_t,
         [ctypes.c_void_p, ctypes.c_char_p, ctypes.c_size_t,
          ctypes.c_char_p, ctypes.c_size_t, ctypes.c_char_p,
          ctypes.c_size_t, ctypes.c_int]),
    ):
        f = getattr(lib, fn)
        f.restype = res
        f.argtypes = args
    _LIBZSTD = lib
    return lib


def zstd_ref_train_dict(samples: list[bytes], capacity: int = 2048) -> bytes:
    """Train a dictionary with the reference trainer (deterministic
    for fixed samples + library version)."""
    import ctypes

    lib = _libzstd()
    blob = b"".join(samples)
    sizes = (ctypes.c_size_t * len(samples))(*map(len, samples))
    buf = ctypes.create_string_buffer(capacity)
    r = lib.ZDICT_trainFromBuffer(
        buf, capacity, blob, sizes, len(samples)
    )
    if lib.ZDICT_isError(r):
        raise RuntimeError(f"ZDICT_trainFromBuffer failed ({r})")
    return buf.raw[:r]


def zstd_ref_compress_dict(
    data: bytes, dict_bytes: bytes, level: int = 3
) -> bytes:
    """Compress one frame against a dictionary with the reference
    encoder (writes the Dictionary_ID into the frame header)."""
    import ctypes

    lib = _libzstd()
    cctx = lib.ZSTD_createCCtx()
    try:
        bound = lib.ZSTD_compressBound(len(data))
        out = ctypes.create_string_buffer(bound)
        r = lib.ZSTD_compress_usingDict(
            cctx, out, bound, data, len(data),
            dict_bytes, len(dict_bytes), level,
        )
        if lib.ZSTD_isError(r):
            raise RuntimeError(f"ZSTD_compress_usingDict failed ({r})")
        return out.raw[:r]
    finally:
        lib.ZSTD_freeCCtx(cctx)


_FIXTURE_DICT: bytes | None = None


def fixture_zstd_dict() -> bytes:
    """The per-process fixture dictionary: trained once from the
    deterministic WARC-record sample family every dictionary stripe
    compresses (the record head + run-text body the streams are made
    of), so the trainer finds real repeated substrings. The TRAINED
    BYTES may vary with libzstd version, but fixtures never hash the
    compressed bytes — only the hand-decoded payloads, which are
    exact."""
    global _FIXTURE_DICT
    if _FIXTURE_DICT is None:
        samples = [
            b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Record-ID: <urn:uuid:rec>\r\n"
            b"WARC-Target-URI: http://example.com/doc/%d\r\n" % k
            + b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            + _run_text_z(k, 0, 200 + 37 * (k % 11))
            for k in range(64)
        ]
        _FIXTURE_DICT = zstd_ref_train_dict(samples, 2048)
    return _FIXTURE_DICT


# --------------------------------------------------------------------------
# Seekable format (zstd contrib/seekable_format, public spec
# zstd_seekable_compression_format.md): a stream of INDEPENDENT
# content frames followed by one skippable frame (magic 0x184D2A5E)
# carrying the seek table — per-frame {Compressed_Size u32,
# Decompressed_Size u32, [xxh64-low-32 Checksum]} entries and a
# 9-byte footer {Number_Of_Frames u32, Descriptor u8 (bit 7 =
# checksum flag, rest reserved 0), Seekable_Magic 0x8F92EAB1}.
# Random access decompresses ONLY the frame containing the target
# offset — the property that makes 100 TB of compressed blobs
# scannable by range: an executor reads one entry + one frame, never
# the stream prefix.  Trust chain: seekable magic + footer books,
# entries must TILE the data area exactly (sum of compressed sizes ==
# bytes before the seek frame), the target frame's decode length must
# equal its Decompressed_Size entry and its xxh64 checksum must hold.
# --------------------------------------------------------------------------

_SEEK_MAGIC = 0x184D2A5E
_SEEKABLE_MAGIC = 0x8F92EAB1


def read_zstd_seekable(data: bytes, seed: int) -> dict | None:
    """Seekable stream + deterministic target
    (``(31 * seed) % total_decompressed``) -> random-access proof:
    decode ONLY the target's frame, verify its checksum and size
    entry, return the byte and a 16-byte window sum at the target.
    None on any violation (section doc)."""
    if len(data) < 17:
        return None
    (footer_magic,) = struct.unpack_from("<I", data, len(data) - 4)
    if footer_magic != _SEEKABLE_MAGIC:
        return None
    n_frames, desc = struct.unpack_from("<IB", data, len(data) - 9)
    if desc & 0x7C:
        return None  # reserved descriptor bits
    has_ck = bool(desc & 0x80)
    esz = 12 if has_ck else 8
    table_len = n_frames * esz + 9
    seek_frame_start = len(data) - 8 - table_len
    if seek_frame_start < 0:
        return None
    magic, fsz = struct.unpack_from("<II", data, seek_frame_start)
    if magic != _SEEK_MAGIC or fsz != table_len:
        return None
    entries = []
    p = seek_frame_start + 8
    for _ in range(n_frames):
        if has_ck:
            cs, ds, ck = struct.unpack_from("<III", data, p)
        else:
            cs, ds = struct.unpack_from("<II", data, p)
            ck = None
        if cs == 0:
            return None
        entries.append((cs, ds, ck))
        p += esz
    if sum(cs for cs, _d, _c in entries) != seek_frame_start:
        return None  # entries must tile the data area exactly
    total = sum(ds for _c, ds, _k in entries)
    if total == 0:
        return None
    target = (31 * seed) % total
    # locate the frame: one entry scan, one frame decode
    cum_c = cum_d = 0
    fidx = -1
    for k, (cs, ds, _ck) in enumerate(entries):
        if target < cum_d + ds:
            fidx = k
            break
        cum_c += cs
        cum_d += ds
    if fidx < 0:
        return None
    cs, ds, ck = entries[fidx]
    try:
        payload = zstd_decompress(data[cum_c : cum_c + cs])
    except ValueError:
        return None
    if len(payload) != ds:
        return None  # the entry's decompressed-size books
    if ck is not None and xxh64(payload) & 0xFFFFFFFF != ck:
        return None  # the entry's checksum books
    j = target - cum_d
    jw = min(j, ds - 16)
    return {
        "n_frames": n_frames,
        "total_decompressed": total,
        "target_frame": fidx,
        "byte_at_target": payload[j],
        "window_sum": sum(payload[jw : jw + 16]),
    }


SEEKABLE_SCHEMA = None  # built lazily in zstd_seekable_stats


def zstd_seekable_stats(df):
    """Random-access seekable-zstd proof over MEDIA_SCHEMA blobs;
    the per-blob target offset derives from media_id."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from gmall_flink_210726_spark.session import ship_package

    pd = _import_pd()
    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("format", StringType()),
            StructField("n_frames", LongType()),
            StructField("total_decompressed", LongType()),
            StructField("target_frame", LongType()),
            StructField("byte_at_target", LongType()),
            StructField("window_sum", LongType()),
        ]
    )
    ship_package(df.sparkSession)
    cols = [f.name for f in schema.fields]

    def gen(batches):
        for pdf in batches:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                row = {c: 0 for c in cols}
                row.update(media_id=int(mid), format="unknown")
                b = bytes(blob) if blob is not None else b""
                try:
                    st = read_zstd_seekable(b, int(mid))
                except Exception:
                    st = None
                if st is not None:
                    row.update(format="zstd-seekable", **st)
                out.append(row)
            yield pd.DataFrame(out, columns=cols)

    return df.select("media_id", "content").mapInPandas(gen, schema)


def _seek_nf(i: int) -> int:
    return 3 + i % 4


def _seek_len(i: int, c: int) -> int:
    return 200 + 37 * ((i + c) % 5)


def _seek_byte(i: int, c: int, j: int) -> int:
    return (5 * i + 7 * c + 3 * j) % 251


def make_zstd_seekable(i: int) -> bytes:
    """Seekable stream: ``3 + i%4`` frames of deterministic bytes
    compressed by the reference encoder (pyarrow's libzstd), seek
    table with checksums. Lies: every 13th id flips a checksum bit
    on the TARGET frame's entry (refused); every 17th-miss id adds 1
    to one entry's Compressed_Size (tiling refused); every
    19th-miss id flips the seekable magic (not a seekable stream).
    A corrupted NON-target frame stays invisible — the random-access
    path never touches it (pinned in tests)."""
    import pyarrow as pa

    nf = _seek_nf(i)
    chunks = [
        bytes(
            _seek_byte(i, c, j) for j in range(_seek_len(i, c))
        )
        for c in range(nf)
    ]
    frames = [
        bytes(pa.Codec("zstd").compress(ch)) for ch in chunks
    ]
    lens = [len(ch) for ch in chunks]
    total = sum(lens)
    target = (31 * i) % total
    cum = 0
    tframe = 0
    for c, ln in enumerate(lens):
        if target < cum + ln:
            tframe = c
            break
        cum += ln
    entries = b""
    for c, (fr, ch) in enumerate(zip(frames, chunks)):
        ck = xxh64(ch) & 0xFFFFFFFF
        if i % 13 == 0 and c == tframe:
            ck ^= 1
        cs = len(fr)
        if (
            i % 17 == 0
            and i % 13 != 0
            and c == nf - 1
        ):
            cs += 1
        entries += struct.pack("<III", cs, len(ch), ck)
    magic = _SEEKABLE_MAGIC
    if i % 19 == 0 and i % 13 != 0 and i % 17 != 0:
        magic ^= 1
    table = entries + struct.pack("<IBI", nf, 0x80, magic)
    seek_frame = struct.pack("<II", _SEEK_MAGIC, len(table)) + table
    return b"".join(frames) + seek_frame


def synthesize_zstd_seekable_media(docs):
    """MEDIA_SCHEMA table of seekable zstd streams."""
    from gmall_flink_210726_spark.operators.multimodal import MEDIA_SCHEMA
    from gmall_flink_210726_spark.session import (
        ensure_parallelism,
        ship_package,
    )

    pd = _import_pd()
    ship_package(docs.sparkSession)
    docs = ensure_parallelism(docs.select("doc_id"))

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [
                        make_zstd_seekable(int(x)) for x in ids
                    ],
                    "meta": [
                        {
                            "format": "zstd",
                            "width": 0,
                            "height": 0,
                            "sample_rate": 0,
                        }
                        for _ in ids
                    ],
                }
            )

    return docs.select("doc_id").mapInPandas(gen, MEDIA_SCHEMA)
