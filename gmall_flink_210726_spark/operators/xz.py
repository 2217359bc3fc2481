r"""XZ / LZMA2 decode from scratch — the remaining general-purpose
compression family next to the repo's hand gzip/zstd/LZ4/bzip2/
snappy decoders (many public corpora and software archives ship as
``.xz``; the format is specified by the public xz file-format spec
and the LZMA specification shipped with the xz distribution).

Three layers, all hand-implemented:

1. **LZMA core** — the 11-bit-probability binary RANGE CODER
   (bound split, 5-bit adaptation shift), the 12-state literal/
   match/rep state machine, (lc, lp, pb) literal contexts with
   matched-literal decoding after matches, length coders
   (choice/choice2 + 3/3/8-bit trees), and the distance model
   (6-bit pos-slot trees per length class, reverse bit-tree
   spec-pos for slots 4..13, direct range bits + 4-bit reverse
   ALIGN tree above).
2. **LZMA2 framing** — control-byte chunks: end marker, uncompressed
   chunks (with/without dict reset), LZMA chunks carrying unpacked/
   packed sizes and the reset mode (state / state+props / +dict);
   every chunk must produce EXACTLY its declared unpacked size and
   consume EXACTLY its packed bytes.
3. **XZ container** — stream header (magic, flags, CRC-32), block
   headers (size, filter chain restricted to the LZMA2 filter
   0x21, dict-size property byte, padding, CRC-32), the per-block
   integrity CHECK over the decoded bytes (None / CRC-32 /
   hand-written CRC-64/ECMA-182 / SHA-256 via ``hashlib``), the
   INDEX (per-block unpadded + uncompressed sizes, cross-checked
   against what was ACTUALLY decoded), and the stream footer
   (CRC-32, backward size pointing back at the index, flags echo,
   'YZ'). Byte-aligned stream concatenation with 4-byte null
   padding (multi-stream .xz) is supported.

Validated in tests against stdlib ``lzma``-written files across
presets, check types, and payload shapes; every framing field lies
loudly (tests flip bytes in the check field specifically to prove
the check — not the grammar — is what catches a content lie).
"""

from __future__ import annotations

import hashlib
import struct
import zlib

from gmall_flink_210726_spark.operators.wire import uvarint

# --------------------------------------------------------------- CRC-64

# ECMA-182 polynomial, reflected form 0xC96C5795D7870F42 (the xz spec's
# CRC-64), table-driven like the zlib CRC but 64-bit.
_CRC64_POLY = 0xC96C5795D7870F42
_CRC64_TAB = []
for _b in range(256):
    _c = _b
    for _ in range(8):
        _c = (_c >> 1) ^ (_CRC64_POLY if _c & 1 else 0)
    _CRC64_TAB.append(_c)


def crc64_xz(data: bytes, crc: int = 0) -> int:
    crc ^= 0xFFFFFFFFFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC64_TAB[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFFFFFFFFFF


# ----------------------------------------------------------- LZMA core


class _RC:
    """LZMA binary range decoder (the spec's rc_* primitives)."""

    __slots__ = ("data", "pos", "end", "range", "code")

    def __init__(self, data: bytes, pos: int, end: int):
        if end - pos < 5 or data[pos] != 0:
            raise ValueError("lzma: bad range-coder init")
        self.data = data
        self.pos = pos + 5
        self.end = end
        self.range = 0xFFFFFFFF
        self.code = int.from_bytes(data[pos + 1 : pos + 5], "big")

    def _norm(self) -> None:
        if self.range < 1 << 24:
            if self.pos >= self.end:
                raise ValueError("lzma: range coder ran dry")
            self.range = (self.range << 8) & 0xFFFFFFFF
            self.code = (
                (self.code << 8) | self.data[self.pos]
            ) & 0xFFFFFFFF
            self.pos += 1

    def bit(self, probs: list[int], idx: int) -> int:
        bound = (self.range >> 11) * probs[idx]
        if self.code < bound:
            self.range = bound
            probs[idx] += (2048 - probs[idx]) >> 5
            b = 0
        else:
            self.code -= bound
            self.range -= bound
            probs[idx] -= probs[idx] >> 5
            b = 1
        self._norm()
        return b

    def tree(self, probs: list[int], nbits: int, off: int = 0) -> int:
        m = 1
        for _ in range(nbits):
            m = (m << 1) | self.bit(probs, off + m)
        return m - (1 << nbits)

    def tree_rev(self, probs: list[int], nbits: int, off: int = 0) -> int:
        m = 1
        out = 0
        for i in range(nbits):
            b = self.bit(probs, off + m)
            m = (m << 1) | b
            out |= b << i
        return out

    def direct(self, nbits: int) -> int:
        out = 0
        for _ in range(nbits):
            self.range >>= 1
            self.code = (self.code - self.range) & 0xFFFFFFFF
            t = 0 - (self.code >> 31)
            self.code = (self.code + (self.range & t)) & 0xFFFFFFFF
            self._norm()
            out = (out << 1) + t + 1
        return out

    def finished(self) -> bool:
        return self.code == 0


def _new_probs(n: int) -> list[int]:
    return [1024] * n


class _LzmaState:
    """Probability models + state machine, reset-able per the LZMA2
    control byte semantics."""

    def __init__(self, lc: int, lp: int, pb: int):
        self.lc, self.lp, self.pb = lc, lp, pb
        self.reset_state()

    def reset_state(self) -> None:
        lc, lp = self.lc, self.lp
        self.state = 0
        self.rep0 = self.rep1 = self.rep2 = self.rep3 = 0
        self.is_match = _new_probs(12 << 4)
        self.is_rep = _new_probs(12)
        self.is_rep_g0 = _new_probs(12)
        self.is_rep_g1 = _new_probs(12)
        self.is_rep_g2 = _new_probs(12)
        self.is_rep0_long = _new_probs(12 << 4)
        self.literal = _new_probs(0x300 << (lc + lp))
        self.pos_slot = [_new_probs(1 << 6) for _ in range(4)]
        self.spec_pos = _new_probs(115)
        self.align = _new_probs(16)
        self.len_dec = self._len_probs()
        self.rep_len_dec = self._len_probs()

    @staticmethod
    def _len_probs():
        return {
            "choice": _new_probs(2),
            "low": [_new_probs(8) for _ in range(16)],
            "mid": [_new_probs(8) for _ in range(16)],
            "high": _new_probs(256),
        }


def _decode_len(rc: _RC, ld: dict, pos_state: int) -> int:
    if not rc.bit(ld["choice"], 0):
        return 2 + rc.tree(ld["low"][pos_state], 3)
    if not rc.bit(ld["choice"], 1):
        return 10 + rc.tree(ld["mid"][pos_state], 3)
    return 18 + rc.tree(ld["high"], 8)


def lzma_decode_chunk(
    data: bytes,
    pos: int,
    packed: int,
    unpacked: int,
    st: _LzmaState,
    window: bytearray,
) -> None:
    """Decode one LZMA2 chunk into ``window`` (the stream dictionary
    so far + this chunk's output). Must produce exactly ``unpacked``
    bytes and consume exactly ``packed`` bytes."""
    rc = _RC(data, pos, pos + packed)
    if _lzma_run(rc, st, window, len(window) + unpacked, False):
        raise ValueError("lzma: end marker inside sized chunk")
    if rc.pos != pos + packed:
        raise ValueError("lzma: chunk did not consume its bytes")
    if not rc.finished():
        # liblzma's rc_is_finished: the encoder's flush leaves the
        # code register at exactly 0 — anything else means the tail
        # bytes (which no decision ever consults) were tampered with
        raise ValueError("lzma: range coder not in final state")


def _lzma_run(
    rc: _RC,
    st: _LzmaState,
    window: bytearray,
    end_len: int,
    allow_marker: bool,
) -> bool:
    """The LZMA symbol loop, shared by LZMA2's sized chunks and the
    legacy .lzma end-marker mode. Returns True when it stopped on
    the END MARKER (distance 2^32-1), False when ``end_len`` was
    reached."""
    pb_mask = (1 << st.pb) - 1
    lp_mask = (1 << st.lp) - 1
    lit_lc = 8 - st.lc
    while len(window) < end_len:
        pos_state = len(window) & pb_mask
        if not rc.bit(st.is_match, (st.state << 4) | pos_state):
            # literal
            prev = window[-1] if window else 0
            lit_state = (
                ((len(window) & lp_mask) << st.lc) + (prev >> lit_lc)
            )
            probs = st.literal
            off = 0x300 * lit_state
            if st.state >= 7:
                match_byte = window[-st.rep0 - 1]
                sym = 1
                while sym < 0x100:
                    match_bit = (match_byte >> 7) & 1
                    match_byte = (match_byte << 1) & 0xFF
                    b = rc.bit(
                        probs,
                        off + ((1 + match_bit) << 8) + sym,
                    )
                    sym = (sym << 1) | b
                    if match_bit != b:
                        while sym < 0x100:
                            sym = (sym << 1) | rc.bit(probs, off + sym)
                        break
            else:
                sym = 1
                while sym < 0x100:
                    sym = (sym << 1) | rc.bit(probs, off + sym)
            window.append(sym & 0xFF)
            st.state = (
                st.state - 3
                if 4 <= st.state < 10
                else (st.state - 6 if st.state >= 10 else 0)
            )
            continue
        if rc.bit(st.is_rep, st.state):
            # rep match
            if not rc.bit(st.is_rep_g0, st.state):
                if not rc.bit(
                    st.is_rep0_long, (st.state << 4) | pos_state
                ):
                    # short rep: one byte at rep0
                    if st.rep0 + 1 > len(window):
                        raise ValueError("lzma: shortrep before start")
                    window.append(window[-st.rep0 - 1])
                    st.state = 9 if st.state < 7 else 11
                    continue
            else:
                if not rc.bit(st.is_rep_g1, st.state):
                    dist = st.rep1
                else:
                    if not rc.bit(st.is_rep_g2, st.state):
                        dist = st.rep2
                    else:
                        dist = st.rep3
                        st.rep3 = st.rep2
                    st.rep2 = st.rep1
                st.rep1 = st.rep0
                st.rep0 = dist
            length = _decode_len(rc, st.rep_len_dec, pos_state)
            st.state = 8 if st.state < 7 else 11
        else:
            # new match
            st.rep3, st.rep2, st.rep1 = st.rep2, st.rep1, st.rep0
            length = _decode_len(rc, st.len_dec, pos_state)
            slot = rc.tree(
                st.pos_slot[min(length - 2, 3)], 6
            )
            if slot < 4:
                st.rep0 = slot
            else:
                nd = (slot >> 1) - 1
                st.rep0 = (2 | (slot & 1)) << nd
                if slot < 14:
                    st.rep0 += rc.tree_rev(
                        st.spec_pos, nd, st.rep0 - slot - 1
                    )
                else:
                    st.rep0 += rc.direct(nd - 4) << 4
                    st.rep0 += rc.tree_rev(st.align, 4)
            if st.rep0 == 0xFFFFFFFF:
                if allow_marker:
                    return True
                raise ValueError("lzma: end marker inside sized chunk")
            st.state = 7 if st.state < 7 else 10
        if st.rep0 + 1 > len(window):
            raise ValueError("lzma: match before stream start")
        if len(window) + length > end_len:
            raise ValueError("lzma: match overruns chunk size")
        for _ in range(length):
            window.append(window[-st.rep0 - 1])
    return False


def lzma_alone_decompress(data: bytes) -> bytes:
    """The legacy ``.lzma`` (LZMA_ALONE) container: 1 props byte
    (lc + 9*(lp + 5*pb)), 4-byte LE dict size, 8-byte LE
    uncompressed size (all-FF = unknown, terminated by the END
    MARKER — the distance-2^32-1 path LZMA2's sized chunks forbid),
    then one raw LZMA stream. Both the marker and the range coder's
    final state are required, and every input byte must be
    consumed."""
    if len(data) < 18:
        raise ValueError("lzma-alone: truncated header")
    props = data[0]
    if props > (4 * 5 + 4) * 9 + 8:
        raise ValueError("lzma-alone: bad props byte")
    lc = props % 9
    lp = (props // 9) % 5
    pb = props // 45
    size = struct.unpack_from("<Q", data, 5)[0]
    if size != 0xFFFFFFFFFFFFFFFF:
        raise ValueError("lzma-alone: only marker-terminated streams")
    st = _LzmaState(lc, lp, pb)
    rc = _RC(data, 13, len(data))
    window = bytearray()
    if not _lzma_run(rc, st, window, 1 << 62, True):
        raise ValueError("lzma-alone: stream ended without marker")
    if rc.pos != len(data):
        raise ValueError("lzma-alone: trailing bytes after marker")
    if not rc.finished():
        raise ValueError("lzma-alone: range coder not in final state")
    return bytes(window)


def lzma2_decompress(
    data: bytes, pos: int, end: int
) -> tuple[bytes, int]:
    """LZMA2 chunk walk -> (plain, position after the end marker).

    A dict reset (control byte 1, or compressed-chunk reset mode 3)
    only bounds back-references and the pos-state counter — the
    output produced BEFORE the reset is still part of the stream.
    ``out`` accumulates flushed pre-reset output; ``window`` is the
    dictionary since the last reset, so the rep-distance and
    pos-state arithmetic in ``_lzma_run`` (both keyed off
    ``len(window)``) naturally restart at the reset point, matching
    liblzma's dict.pos reset."""
    out = bytearray()
    window = bytearray()
    st: _LzmaState | None = None
    need_dict_reset = True
    while True:
        if pos >= end:
            raise ValueError("lzma2: missing end marker")
        control = data[pos]
        pos += 1
        if control == 0:
            out.extend(window)
            return bytes(out), pos
        if control in (1, 2):
            if control == 1:
                out.extend(window)
                window = bytearray()
                need_dict_reset = False
            if pos + 2 > end:
                raise ValueError("lzma2: truncated copy header")
            size = struct.unpack_from(">H", data, pos)[0] + 1
            pos += 2
            if control == 2 and need_dict_reset:
                raise ValueError("lzma2: copy before dict reset")
            if pos + size > end:
                raise ValueError("lzma2: truncated copy chunk")
            window.extend(data[pos : pos + size])
            pos += size
            if st is not None:
                st.reset_state()  # uncompressed chunks reset state
            continue
        if control < 0x80:
            raise ValueError("lzma2: bad control byte")
        if pos + 4 > end:
            raise ValueError("lzma2: truncated chunk header")
        unpacked = ((control & 0x1F) << 16) + struct.unpack_from(
            ">H", data, pos
        )[0] + 1
        packed = struct.unpack_from(">H", data, pos + 2)[0] + 1
        pos += 4
        reset = (control >> 5) & 3
        if reset >= 2:
            if pos >= end:
                raise ValueError("lzma2: truncated props byte")
            props = data[pos]
            pos += 1
            if props > (4 * 5 + 4) * 9 + 8:
                raise ValueError("lzma2: bad props byte")
            lc = props % 9
            lp = (props // 9) % 5
            pb = props // 45
            st = _LzmaState(lc, lp, pb)
        elif reset == 1:
            if st is None:
                raise ValueError("lzma2: state reset before props")
            st.reset_state()
        elif st is None:
            raise ValueError("lzma2: chunk before props")
        if reset == 3:
            out.extend(window)
            window = bytearray()
            need_dict_reset = False
        if need_dict_reset:
            raise ValueError("lzma2: data before dict reset")
        if pos + packed > end:
            raise ValueError("lzma2: truncated chunk body")
        lzma_decode_chunk(data, pos, packed, unpacked, st, window)
        pos += packed


# --------------------------------------------------------- XZ container

_XZ_MAGIC = b"\xfd7zXZ\x00"
_CHECK_SIZES = {0: 0, 1: 4, 4: 8, 10: 32}
_CHECK_NAMES = {0: "none", 1: "crc32", 4: "crc64", 10: "sha256"}


def _mb_int(data: bytes, pos: int, end: int) -> tuple[int, int]:
    """xz multibyte integer: a varint of at most 9 bytes, with no
    trailing zero byte."""
    v, after = uvarint(data, pos, end)
    if after - pos > 9:
        raise ValueError("xz: bad multibyte integer")
    if after - pos > 1 and data[after - 1] == 0:
        raise ValueError("xz: non-minimal multibyte integer")
    return v, after


def xz_decompress_stream(
    data: bytes, pos: int
) -> tuple[list[bytes], str, int]:
    """Decode ONE xz stream starting at ``pos``. Returns (per-block
    plains, check name, position after the footer). Every CRC, the
    per-block check, the index, and the footer backward-size are
    verified."""
    n = len(data)
    if pos + 12 > n or data[pos : pos + 6] != _XZ_MAGIC:
        raise ValueError("xz: bad stream magic")
    flags = data[pos + 6 : pos + 8]
    if flags[0] != 0 or flags[1] & 0xF0:
        raise ValueError("xz: bad stream flags")
    check_id = flags[1]
    if check_id not in _CHECK_SIZES:
        raise ValueError("xz: unsupported check id")
    (hcrc,) = struct.unpack_from("<I", data, pos + 8)
    if zlib.crc32(flags) != hcrc:
        raise ValueError("xz: stream header CRC mismatch")
    pos += 12
    blocks: list[bytes] = []
    records: list[tuple[int, int]] = []  # (unpadded, uncompressed)
    while True:
        if pos >= n:
            raise ValueError("xz: ran off the stream")
        first = data[pos]
        if first == 0:
            break  # index marker
        hsize = (first + 1) * 4
        if pos + hsize > n:
            raise ValueError("xz: truncated block header")
        hdr = data[pos : pos + hsize]
        (bcrc,) = struct.unpack_from("<I", hdr, hsize - 4)
        if zlib.crc32(hdr[: hsize - 4]) != bcrc:
            raise ValueError("xz: block header CRC mismatch")
        bflags = hdr[1]
        nfilters = (bflags & 3) + 1
        if bflags & 0x3C:
            raise ValueError("xz: reserved block flags set")
        hp = 2
        comp_size = unc_size = None
        if bflags & 0x40:
            comp_size, hp = _mb_int(hdr, hp, hsize - 4)
        if bflags & 0x80:
            unc_size, hp = _mb_int(hdr, hp, hsize - 4)
        if nfilters != 1:
            raise ValueError("xz: only the lone-LZMA2 chain is read")
        fid, hp = _mb_int(hdr, hp, hsize - 4)
        psize, hp = _mb_int(hdr, hp, hsize - 4)
        if fid != 0x21 or psize != 1:
            raise ValueError("xz: filter is not LZMA2")
        dict_prop = hdr[hp]
        hp += 1
        if dict_prop > 40:
            raise ValueError("xz: bad LZMA2 dict-size property")
        if any(hdr[hp : hsize - 4]):
            raise ValueError("xz: block header padding not zero")
        body_start = pos + hsize
        plain, after = lzma2_decompress(data, body_start, n)
        comp_actual = after - body_start
        if comp_size is not None and comp_size != comp_actual:
            raise ValueError("xz: compressed-size field lies")
        if unc_size is not None and unc_size != len(plain):
            raise ValueError("xz: uncompressed-size field lies")
        pad = (-comp_actual) % 4
        if any(data[after : after + pad]):
            raise ValueError("xz: block padding not zero")
        cpos = after + pad
        csize = _CHECK_SIZES[check_id]
        if cpos + csize > n:
            raise ValueError("xz: truncated block check")
        stored = data[cpos : cpos + csize]
        if check_id == 1:
            ok = struct.pack("<I", zlib.crc32(plain)) == stored
        elif check_id == 4:
            ok = struct.pack("<Q", crc64_xz(plain)) == stored
        elif check_id == 10:
            ok = hashlib.sha256(plain).digest() == stored
        else:
            ok = True
        if not ok:
            raise ValueError("xz: block check mismatch")
        blocks.append(plain)
        records.append((hsize + comp_actual + csize, len(plain)))
        pos = cpos + csize
    # ----- index
    index_start = pos
    ip = pos + 1
    nrec, ip = _mb_int(data, ip, n)
    if nrec != len(records):
        raise ValueError("xz: index record count lies")
    for unpadded, unc in records:
        r_unp, ip = _mb_int(data, ip, n)
        r_unc, ip = _mb_int(data, ip, n)
        if r_unp != unpadded or r_unc != unc:
            raise ValueError("xz: index record lies")
    pad = (-(ip - index_start)) % 4
    if any(data[ip : ip + pad]):
        raise ValueError("xz: index padding not zero")
    ip += pad
    (icrc,) = struct.unpack_from("<I", data, ip)
    if zlib.crc32(data[index_start:ip]) != icrc:
        raise ValueError("xz: index CRC mismatch")
    ip += 4
    index_size = ip - index_start
    # ----- footer
    if ip + 12 > n:
        raise ValueError("xz: truncated footer")
    (fcrc,) = struct.unpack_from("<I", data, ip)
    back = data[ip + 4 : ip + 8]
    fflags = data[ip + 8 : ip + 10]
    if data[ip + 10 : ip + 12] != b"YZ":
        raise ValueError("xz: bad footer magic")
    if fflags != flags:
        raise ValueError("xz: footer flags disagree with header")
    if zlib.crc32(back + fflags) != fcrc:
        raise ValueError("xz: footer CRC mismatch")
    (bw,) = struct.unpack("<I", back)
    if (bw + 1) * 4 != index_size:
        raise ValueError("xz: backward size does not reach the index")
    return blocks, _CHECK_NAMES[check_id], ip + 12


def xz_decompress_multistream(
    data: bytes,
) -> tuple[bytes, int, str] | None:
    """Concatenated xz streams (with optional 4-byte null stream
    padding between them) -> (plain, n_streams, first stream's check
    name); None on any violation."""
    try:
        out = bytearray()
        pos = 0
        n_streams = 0
        check = ""
        while pos < len(data):
            if data[pos] == 0:  # stream padding: 4-byte null groups
                if len(data) - pos < 4 or any(data[pos : pos + 4]):
                    return None
                pos += 4
                continue
            blocks, ck, pos = xz_decompress_stream(data, pos)
            for b in blocks:
                out.extend(b)
            if n_streams == 0:
                check = ck
            n_streams += 1
        if n_streams == 0:
            return None
        return bytes(out), n_streams, check
    except ValueError:
        return None


# --------------------------------------------------------------------------
# Spark plumbing + fixtures
# --------------------------------------------------------------------------


def read_xz_archive(data: bytes) -> dict | None:
    """Multistream walk -> parsed-back word payload (the kafkalog
    precedent: values carry numbers the oracle recomputes blind, so
    the stats prove CONTENT decode, not just framing)."""
    got = xz_decompress_multistream(data)
    if got is None:
        return None
    plain, n_streams, check = got
    try:
        text = plain.decode("ascii")
    except UnicodeDecodeError:
        return None
    if not text or not text.endswith(" "):
        return None
    word_sum = 0
    words = text[:-1].split(" ")
    for w in words:
        if len(w) < 2 or w[0] != "w" or not w[1:].isdigit():
            return None
        word_sum += int(w[1:])
    return {
        "n_streams": n_streams,
        "check": check,
        "payload_len": len(plain),
        "n_words": len(words),
        "word_sum": word_sum,
    }


def _locate_block_check(blob: bytes) -> tuple[int, int]:
    """(offset, size) of the single block's stored check field."""
    check_id = blob[7]
    hsize = (blob[12] + 1) * 4
    _, after = lzma2_decompress(blob, 12 + hsize, len(blob))
    pad = (-(after - 12 - hsize)) % 4
    return after + pad, _CHECK_SIZES[check_id]


_XZ_CHECKS = ("none", "crc32", "crc64", "sha256")


def _make_xz_archive(
    i: int, bad_stripe: int = 13, lie_stripe: int = 9
) -> bytes:
    """``1 + i%2`` xz streams (4-byte null stream padding between
    them on every 3rd id), check rotating none/crc32/crc64/sha256,
    payload = parseable 'w<num> ' words. Every ``bad_stripe``-th id
    flips a mid-blob byte (grammar, range-coder final state, or
    check — something must object); every ``lie_stripe``-th id is
    forced onto CRC-64 and has a byte INSIDE the stored check field
    flipped — the frames all parse and only the content check
    catches it."""
    import lzma as _lzma

    n = 300 + (i % 7) * 60
    words = [f"w{(3 * i + t) % 50} " for t in range(n)]
    lie = i % lie_stripe == 0 and i % bad_stripe != 0
    ck_name = "crc64" if lie else _XZ_CHECKS[i % 4]
    ck = {
        "none": _lzma.CHECK_NONE,
        "crc32": _lzma.CHECK_CRC32,
        "crc64": _lzma.CHECK_CRC64,
        "sha256": _lzma.CHECK_SHA256,
    }[ck_name]
    n_streams = 1 + i % 2
    cut = len(words) // n_streams
    parts = [
        "".join(words[s * cut : (s + 1) * cut if s + 1 < n_streams else n])
        for s in range(n_streams)
    ]
    blob = bytearray()
    first_stream = None
    for s, part in enumerate(parts):
        one = _lzma.compress(
            part.encode("ascii"),
            format=_lzma.FORMAT_XZ,
            check=ck,
            preset=1,
        )
        if first_stream is None:
            first_stream = one
        blob += one
        if i % 3 == 0:
            blob += b"\x00" * 4  # stream padding
    if i % bad_stripe == 0:
        blob[len(blob) // 2] ^= 0xFF
    elif lie:
        off, size = _locate_block_check(bytes(first_stream))
        blob[off + size - 1] ^= 0x5A  # inside the stored CRC-64
    return bytes(blob)


def xz_archive_stats(df):
    """Multistream xz walk over MEDIA_SCHEMA blobs."""
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
            StructField("check_kind", StringType()),
            StructField("n_streams", LongType()),
            StructField("payload_len", LongType()),
            StructField("n_words", LongType()),
            StructField("word_sum", LongType()),
        ]
    )

    def walk(b: bytes) -> dict | None:
        st = read_xz_archive(b)
        return None if st is None else dict(st, check_kind=st["check"])

    return blob_stats(df, walk, schema, "xz")


def synthesize_xz_media(docs):
    """MEDIA_SCHEMA table of multistream xz blobs."""
    from gmall_flink_210726_spark.operators.multimodal import (
        blob_meta,
        synthesize_blobs,
    )

    return synthesize_blobs(docs, _make_xz_archive, blob_meta("xz"))


# ----------------------------------------------------- legacy .lzma query

_ALONE_COMBOS = ((3, 0, 2), (0, 2, 1), (4, 0, 0), (1, 1, 2))


def read_lzma_alone(data: bytes) -> dict | None:
    """Legacy .lzma walk -> parsed-back word payload (same content-
    proving contract as read_xz_archive)."""
    try:
        plain = lzma_alone_decompress(data)
        text = plain.decode("ascii")
    except (ValueError, UnicodeDecodeError):
        return None
    if not text or not text.endswith(" "):
        return None
    word_sum = 0
    words = text[:-1].split(" ")
    for w in words:
        if len(w) < 2 or w[0] != "w" or not w[1:].isdigit():
            return None
        word_sum += int(w[1:])
    return {
        "lc": data[0] % 9,
        "lp": (data[0] // 9) % 5,
        "pb": data[0] // 45,
        "payload_len": len(plain),
        "n_words": len(words),
        "word_sum": word_sum,
    }


def _make_lzma_alone(
    i: int, bad_stripe: int = 13, lie_stripe: int = 9
) -> bytes:
    """(lc, lp, pb) rotating through four combos (exercising every
    literal-context shape), marker-terminated as stdlib writes them.
    The format has NO checksum, so the stripes are framing-exact:
    every ``bad_stripe``-th id is truncated by one byte (marker
    unreachable / coder runs dry), every ``lie_stripe``-th id gains
    one trailing byte (the exact-consumption check objects)."""
    import lzma as _lzma

    n = 250 + (i % 5) * 50
    lc, lp, pb = _ALONE_COMBOS[i % 4]
    payload = "".join(f"w{(7 * i + 3 * t) % 40} " for t in range(n))
    blob = _lzma.compress(
        payload.encode("ascii"),
        format=_lzma.FORMAT_ALONE,
        filters=[
            {
                "id": _lzma.FILTER_LZMA1,
                "preset": 2,
                "lc": lc,
                "lp": lp,
                "pb": pb,
            }
        ],
    )
    if i % bad_stripe == 0:
        return blob[:-1]
    if i % lie_stripe == 0:
        return blob + b"\x00"
    return blob


def lzma_alone_stats(df):
    """Legacy .lzma walk over MEDIA_SCHEMA blobs."""
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
            StructField("lc", LongType()),
            StructField("lp", LongType()),
            StructField("pb", LongType()),
            StructField("payload_len", LongType()),
            StructField("n_words", LongType()),
            StructField("word_sum", LongType()),
        ]
    )

    return blob_stats(df, read_lzma_alone, schema, "lzma")


def synthesize_lzma_alone_media(docs):
    """MEDIA_SCHEMA table of legacy .lzma blobs."""
    from gmall_flink_210726_spark.operators.multimodal import (
        blob_meta,
        synthesize_blobs,
    )

    return synthesize_blobs(docs, _make_lzma_alone, blob_meta("lzma"))
