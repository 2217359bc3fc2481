r"""bzip2 decode from scratch — the container format of the classic
LLM corpus front door (Wikipedia database dumps ship as
``.xml.bz2`` multistream files; one bz2 stream per page batch so
readers can seek).

The format (bzip2 1.0, Seward): a byte stream of concatenated
STREAMS; inside a stream everything is BIT-aligned:

- stream header ``BZh`` + level digit ('1'-'9', block size 100k·n)
- blocks introduced by the 48-bit magic ``0x314159265359`` (π),
  each carrying: stored CRC-32 of its PLAIN data, the deprecated
  ``randomised`` bit (must be 0), the BWT ``origPtr``, a two-level
  used-byte map, 2..6 Huffman tables with delta-coded code lengths,
  unary-coded MTF'd table selectors switching every 50 symbols, and
  the symbol stream itself: RUNA/RUNB bijective-base-2 zero runs +
  MTF values + EOB
- decode pipeline per block: Huffman → (RUNA/RUNB + MTF) → BWT
  inverse at ``origPtr`` → RLE1 (4 equal bytes + count) → plain
- stream footer: 48-bit magic ``0x177245385090`` (√π) + combined
  CRC (per-block CRCs folded with rotate-left-1)

Every layer is checked: block CRCs (bzip2's MSB-first CRC-32) over
the decoded plain bytes, the folded stream CRC, selector/group
bounds, code lengths in 1..23, origPtr inside the block. Next
stream starts at the following byte boundary (multistream).

Validated in tests against stdlib ``bz2``-written streams (fuzz,
all levels, runs/repetitive/random payloads).
"""

from __future__ import annotations

from gmall_flink_210726_spark.operators.wire import MsbReader, crc32_msb

_BLOCK_MAGIC = 0x314159265359
_END_MAGIC = 0x177245385090

def _huff_table(lengths: list[int]):
    """Canonical bzip2 code assignment: codes increase with length,
    symbols in index order within a length. Returns
    (limit, base, perm, min_len) per bzlib's decode scheme."""
    min_len, max_len = min(lengths), max(lengths)
    if min_len < 1 or max_len > 23:
        raise ValueError("bzip2: bad code length")
    perm = []
    for ln in range(min_len, max_len + 1):
        for sym, sl in enumerate(lengths):
            if sl == ln:
                perm.append(sym)
    cnt = [0] * (max_len + 2)
    for sl in lengths:
        cnt[sl + 1] += 1
    for i in range(1, len(cnt)):
        cnt[i] += cnt[i - 1]
    limit = [0] * (max_len + 2)
    # base[ln] folds the perm offset in (bzlib hbCreateDecodeTables):
    # decode index is simply vec - base[ln]
    base = [0] * (max_len + 2)
    vec = 0
    for ln in range(min_len, max_len + 1):
        vec += cnt[ln + 1] - cnt[ln]
        limit[ln] = vec - 1
        vec <<= 1
    for ln in range(min_len + 1, max_len + 1):
        base[ln] = ((limit[ln - 1] + 1) << 1) - cnt[ln]
    return limit, base, perm, min_len, max_len


def _huff_decode(bits: MsbReader, tab) -> int:
    limit, base, perm, min_len, max_len = tab
    ln = min_len
    vec = bits.read(min_len)
    while vec > limit[ln]:
        ln += 1
        if ln > max_len:
            raise ValueError("bzip2: bad huffman code")
        vec = (vec << 1) | bits.read(1)
    idx = vec - base[ln]
    if idx < 0 or idx >= len(perm):
        raise ValueError("bzip2: bad huffman code")
    return perm[idx]


def _decode_block(bits: MsbReader, max_block: int) -> tuple[bytes, int]:
    stored_crc = bits.read(32)
    if bits.read(1):
        raise ValueError("bzip2: randomised blocks unsupported")
    orig_ptr = bits.read(24)
    # two-level used-byte map
    coarse = bits.read(16)
    used = []
    for hi in range(16):
        if coarse & (0x8000 >> hi):
            fine = bits.read(16)
            for lo in range(16):
                if fine & (0x8000 >> lo):
                    used.append((hi << 4) | lo)
    if not used:
        raise ValueError("bzip2: empty symbol map")
    n_syms = len(used) + 2
    n_groups = bits.read(3)
    if not 2 <= n_groups <= 6:
        raise ValueError("bzip2: bad group count")
    n_selectors = bits.read(15)
    if n_selectors < 1:
        raise ValueError("bzip2: no selectors")
    # selectors are MTF-coded group ids in unary
    sel_mtf = list(range(n_groups))
    selectors = []
    for _ in range(n_selectors):
        j = 0
        while bits.read(1):
            j += 1
            if j >= n_groups:
                raise ValueError("bzip2: bad selector")
        g = sel_mtf.pop(j)
        sel_mtf.insert(0, g)
        selectors.append(g)
    # delta-coded code lengths per group
    tables = []
    for _ in range(n_groups):
        cur = bits.read(5)
        lens = []
        for _ in range(n_syms):
            while bits.read(1):
                cur += -1 if bits.read(1) else 1
                if not 1 <= cur <= 23:
                    raise ValueError("bzip2: bad code length walk")
            lens.append(cur)
        tables.append(_huff_table(lens))
    # symbol stream: RUNA/RUNB zero runs + MTF + EOB
    eob = n_syms - 1
    mtf = list(used)
    bwt = bytearray()
    run = 0
    run_bit = 0
    sel_idx = 0
    group_left = 0
    tab = None
    while True:
        if group_left == 0:
            if sel_idx >= n_selectors:
                raise ValueError("bzip2: ran out of selectors")
            tab = tables[selectors[sel_idx]]
            sel_idx += 1
            group_left = 50
        group_left -= 1
        sym = _huff_decode(bits, tab)
        if sym <= 1:  # RUNA / RUNB, bijective base 2
            run += (sym + 1) << run_bit
            run_bit += 1
            continue
        if run:
            if len(bwt) + run > max_block:
                raise ValueError("bzip2: block overrun")
            bwt.extend(bytes([mtf[0]]) * run)
            run = run_bit = 0
        if sym == eob:
            break
        v = mtf.pop(sym - 1)
        mtf.insert(0, v)
        if len(bwt) >= max_block:
            raise ValueError("bzip2: block overrun")
        bwt.append(v)
    n = len(bwt)
    if n == 0 or orig_ptr >= n:
        raise ValueError("bzip2: bad origPtr")
    # inverse BWT: nxt[r] = position in bwt of sorted-rotation row r
    cnt = [0] * 256
    for b in bwt:
        cnt[b] += 1
    base = [0] * 256
    tot = 0
    for b in range(256):
        base[b] = tot
        tot += cnt[b]
    occ = [0] * 256
    nxt = [0] * n
    for i, b in enumerate(bwt):
        nxt[base[b] + occ[b]] = i
        occ[b] += 1
    pre = bytearray(n)
    p = nxt[orig_ptr]
    for k in range(n):
        pre[k] = bwt[p]
        p = nxt[p]
    # RLE1: a run of 4 equal bytes is followed by an extra count
    out = bytearray()
    i = 0
    while i < n:
        b = pre[i]
        j = i + 1
        while j < n and j - i < 4 and pre[j] == b:
            j += 1
        out.extend(bytes([b]) * (j - i))
        if j - i == 4:
            if j >= n:
                raise ValueError("bzip2: truncated RLE1 run")
            out.extend(bytes([b]) * pre[j])
            j += 1
        i = j
    plain = bytes(out)
    if (crc32_msb(plain, 0xFFFFFFFF) ^ 0xFFFFFFFF) != stored_crc:
        raise ValueError("bzip2: block CRC mismatch")
    return plain, stored_crc


def bz2_decompress_stream(
    data: bytes, bitpos: int = 0
) -> tuple[bytes, int]:
    """Decode ONE bzip2 stream starting at byte-aligned ``bitpos``.
    Returns (plain bytes, bit position just past the stream footer).
    Raises ValueError on any grammar/CRC violation."""
    bits = MsbReader(data, bitpos // 8)
    if bits.read(24) != 0x425A68:  # 'BZh'
        raise ValueError("bzip2: bad stream magic")
    level = bits.read(8) - 0x30
    if not 1 <= level <= 9:
        raise ValueError("bzip2: bad level")
    max_block = 100_000 * level
    out = bytearray()
    stream_crc = 0
    while True:
        magic = bits.read(48)
        if magic == _BLOCK_MAGIC:
            plain, blk_crc = _decode_block(bits, max_block)
            out.extend(plain)
            stream_crc = (
                ((stream_crc << 1) | (stream_crc >> 31)) & 0xFFFFFFFF
            ) ^ blk_crc
        elif magic == _END_MAGIC:
            if bits.read(32) != stream_crc:
                raise ValueError("bzip2: stream CRC mismatch")
            return bytes(out), bits.pos * 8 + bits.bit
        else:
            raise ValueError("bzip2: bad block magic")


def bz2_decompress_multistream(data: bytes) -> list[bytes]:
    """Decode a concatenation of byte-aligned bzip2 streams (the
    Wikipedia multistream layout: one stream per page batch).
    Returns one plain payload per stream; raises on any violation
    or trailing garbage."""
    streams: list[bytes] = []
    bitpos = 0
    nbits = 8 * len(data)
    while bitpos < nbits:
        plain, end = bz2_decompress_stream(data, bitpos)
        streams.append(plain)
        bitpos = (end + 7) & ~7  # next stream is byte-aligned
    if not streams:
        raise ValueError("bzip2: empty input")
    return streams
