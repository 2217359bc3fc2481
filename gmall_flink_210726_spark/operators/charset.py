"""Charset fallback transcoding — the C4/CCNet front-door step that
RECOVERS the non-UTF-8 tail of a web crawl instead of dropping it
(Raffel et al. 2020 §2.2 keep only clean text; Wenzek et al. 2020 §2
decode everything first). Real crawls are ~95% UTF-8; the remainder
is overwhelmingly Windows-1252 mislabeled as latin-1/ISO-8859-1, so
the standard chain is:

1. strict UTF-8 (RFC 3629, the from-scratch walk in operators/utf8);
2. on failure, Windows-1252 with the REAL 0x80-0x9F table — the 27
   printable mappings (smart quotes, em dash, euro, trademark, ...)
   hand-written from the public code chart; the five bytes the code
   page leaves UNDEFINED (0x81 0x8D 0x8F 0x90 0x9D) make strict
   cp1252 fail;
3. latin-1 (ISO-8859-1) as the never-fails floor: every byte IS its
   code point.

The decode is per-document and stateless: an Arrow-batched
``mapInPandas`` map with zero shuffle at any corpus size. Output
carries the encoding label plus exact transcode proofs — recovered
code-point count, code-point SUM (any wrong mapping shifts it), and
the count of 0x80-0x9F bytes recovered through the cp1252 table (the
bytes a naive latin-1 decode would silently turn into C1 controls).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    map_pandas,
    synthesize_blobs,
)

# Windows-1252 0x80-0x9F -> Unicode, hand-written from the public
# code chart (https://en.wikipedia.org/wiki/Windows-1252 reproduces
# the vendor table). None = the code page leaves the byte UNDEFINED.
_CP1252_HIGH: tuple[int | None, ...] = (
    0x20AC,  # 0x80 EURO SIGN
    None,    # 0x81
    0x201A,  # 0x82 SINGLE LOW-9 QUOTATION MARK
    0x0192,  # 0x83 LATIN SMALL LETTER F WITH HOOK
    0x201E,  # 0x84 DOUBLE LOW-9 QUOTATION MARK
    0x2026,  # 0x85 HORIZONTAL ELLIPSIS
    0x2020,  # 0x86 DAGGER
    0x2021,  # 0x87 DOUBLE DAGGER
    0x02C6,  # 0x88 MODIFIER LETTER CIRCUMFLEX ACCENT
    0x2030,  # 0x89 PER MILLE SIGN
    0x0160,  # 0x8A LATIN CAPITAL LETTER S WITH CARON
    0x2039,  # 0x8B SINGLE LEFT-POINTING ANGLE QUOTATION MARK
    0x0152,  # 0x8C LATIN CAPITAL LIGATURE OE
    None,    # 0x8D
    0x017D,  # 0x8E LATIN CAPITAL LETTER Z WITH CARON
    None,    # 0x8F
    None,    # 0x90
    0x2018,  # 0x91 LEFT SINGLE QUOTATION MARK
    0x2019,  # 0x92 RIGHT SINGLE QUOTATION MARK
    0x201C,  # 0x93 LEFT DOUBLE QUOTATION MARK
    0x201D,  # 0x94 RIGHT DOUBLE QUOTATION MARK
    0x2022,  # 0x95 BULLET
    0x2013,  # 0x96 EN DASH
    0x2014,  # 0x97 EM DASH
    0x02DC,  # 0x98 SMALL TILDE
    0x2122,  # 0x99 TRADE MARK SIGN
    0x0161,  # 0x9A LATIN SMALL LETTER S WITH CARON
    0x203A,  # 0x9B SINGLE RIGHT-POINTING ANGLE QUOTATION MARK
    0x0153,  # 0x9C LATIN SMALL LIGATURE OE
    None,    # 0x9D
    0x017E,  # 0x9E LATIN SMALL LETTER Z WITH CARON
    0x0178,  # 0x9F LATIN CAPITAL LETTER Y WITH DIAERESIS
)


def utf8_decode_strict(data: bytes) -> list[int] | None:
    """Strict RFC 3629 decode to code points, or None. Same table
    semantics as ``utf8_classify`` (which stays the validation
    entrypoint); kept as an explicit second walk so each pins the
    other in tests."""
    out: list[int] = []
    i, n = 0, len(data)
    while i < n:
        b0 = data[i]
        if b0 < 0x80:
            out.append(b0)
            i += 1
            continue
        if 0xC2 <= b0 <= 0xDF:
            need, lo, hi = 1, 0x80, 0x7FF
        elif 0xE0 <= b0 <= 0xEF:
            need, lo, hi = 2, 0x800, 0xFFFF
        elif 0xF0 <= b0 <= 0xF4:
            need, lo, hi = 3, 0x10000, 0x10FFFF
        else:
            return None
        if i + need >= n:
            return None
        cp = b0 & (0x7F >> (need + 1))
        for k in range(1, need + 1):
            bk = data[i + k]
            if bk & 0xC0 != 0x80:
                return None
            cp = (cp << 6) | (bk & 0x3F)
        if not lo <= cp <= hi or 0xD800 <= cp <= 0xDFFF:
            return None
        out.append(cp)
        i += need + 1
    return out


def cp1252_decode_strict(data: bytes) -> list[int] | None:
    """Windows-1252 decode, or None if any of the five UNDEFINED
    bytes (0x81 0x8D 0x8F 0x90 0x9D) appears."""
    out: list[int] = []
    for b in data:
        if 0x80 <= b <= 0x9F:
            cp = _CP1252_HIGH[b - 0x80]
            if cp is None:
                return None
            out.append(cp)
        else:
            out.append(b)  # ASCII + 0xA0-0xFF are identity
    return out


def charset_transcode(data: bytes) -> dict:
    """UTF-8 -> cp1252 -> latin-1 fallback chain. Never fails (the
    latin-1 floor maps every byte to itself). Returns the encoding
    label plus exact transcode proofs: code-point count and SUM, and
    how many 0x80-0x9F bytes were recovered through the cp1252
    printable table."""
    cps = utf8_decode_strict(data)
    if cps is not None:
        enc, n_c1 = "utf-8", 0
    else:
        cps = cp1252_decode_strict(data)
        if cps is not None:
            enc = "cp1252"
            n_c1 = sum(1 for b in data if 0x80 <= b <= 0x9F)
        else:
            enc = "latin-1"
            cps = list(data)
            n_c1 = sum(1 for b in data if 0x80 <= b <= 0x9F)
    return {
        "encoding": enc,
        "n_bytes": len(data),
        "n_cps": len(cps),
        "cp_sum": sum(cps),
        "n_c1_recovered": n_c1,
    }


CHARSET_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("encoding", StringType()),
        StructField("n_bytes", LongType()),
        StructField("n_cps", LongType()),
        StructField("cp_sum", LongType()),
        StructField("n_c1_recovered", LongType()),
    ]
)


def _charset_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    out = []
    for mid, blob in zip(pdf["media_id"], pdf["content"]):
        b = bytes(blob) if blob is not None else b""
        out.append({"media_id": int(mid), **charset_transcode(b)})
    return pd.DataFrame(out, columns=[f.name for f in CHARSET_SCHEMA.fields])


def charset_transcode_stats(df: DataFrame) -> DataFrame:
    """Fallback-chain transcode over MEDIA_SCHEMA blobs."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _charset_batch(pdf)

    return map_pandas(df, gen, CHARSET_SCHEMA, ["media_id", "content"])


# --------------------------------------------------------------------------
# Fixture synthesis — mixed-encoding crawl tail
# --------------------------------------------------------------------------

# cp1252 stripe alphabet: three printable C1-range bytes (the smart
# quotes + em dash a Word-authored page actually contains), one high
# latin-1 byte, two ASCII. Any isolated 0x80-0xBF byte is an orphan
# continuation in UTF-8, so the stripe can never accidentally
# validate as UTF-8 once n >= 6.
_CP_BYTES = (0x93, 0x94, 0x97, 0xE9, 0x41, 0x20)


def _make_charset(i: int) -> bytes:
    """Deterministic per-id stream of ``30 + i % 50`` units.

    - ``i % 4 in (0, 1)``: valid UTF-8, unit k is the class
      ``1 + (i + k) % 4`` representative (same four code points as
      the utf8 fixtures);
    - ``i % 4 == 2``: Windows-1252, unit k is byte
      ``_CP_BYTES[(i + k) % 6]``;
    - ``i % 4 == 3``: same cp1252 stream but every 7th unit (k % 7
      == 3) is the UNDEFINED byte 0x9D -> the strict cp1252 pass
      must fail and the doc falls through to latin-1."""
    n = 30 + i % 50
    v = i % 4
    if v < 2:
        reps = ("a", "é", "中", "\U0001f600")
        return "".join(reps[(i + k) % 4] for k in range(n)).encode("utf-8")
    out = bytearray()
    for k in range(n):
        if v == 3 and k % 7 == 3:
            out.append(0x9D)
        else:
            out.append(_CP_BYTES[(i + k) % 6])
    return bytes(out)


def synthesize_charset_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of mixed-encoding byte streams."""
    return synthesize_blobs(docs, _make_charset, blob_meta("bytes"))


# --------------------------------------------------------------------------
# UTF-16 (RFC 2781): the other legacy-web encoding worth recovering.
# Real crawl tails contain BOM-tagged UTF-16 (Windows tooling export,
# sitemaps, some CJK pages); a front door that only knows UTF-8 and
# single-byte code pages misclassifies all of it.
# --------------------------------------------------------------------------


def _utf16_cps(data: bytes, order: str) -> list[int] | None:
    """BOM-less strict UTF-16 unit pairing: even byte length,
    correctly paired surrogates (a high surrogate must be followed by
    a low one, lone surrogates reject). Returns code points or
    None."""
    if len(data) % 2:
        return None
    units = [
        int.from_bytes(data[i : i + 2], order)
        for i in range(0, len(data), 2)
    ]
    out: list[int] = []
    i = 0
    while i < len(units):
        u = units[i]
        if 0xD800 <= u <= 0xDBFF:  # high surrogate
            if i + 1 >= len(units):
                return None  # truncated pair
            v = units[i + 1]
            if not 0xDC00 <= v <= 0xDFFF:
                return None  # unpaired high surrogate
            out.append(0x10000 + ((u - 0xD800) << 10) + (v - 0xDC00))
            i += 2
            continue
        if 0xDC00 <= u <= 0xDFFF:
            return None  # lone low surrogate
        out.append(u)
        i += 1
    return out


def utf16_decode_strict(data: bytes) -> tuple[list[int], str] | None:
    """BOM-sniffed strict UTF-16 decode (RFC 2781 §4.3): requires a
    BOM (FF FE little / FE FF big — the unmarked-stream default is a
    heuristic, not a decode), even byte length, correctly paired
    surrogates, and no code point above U+10FFFF (holds by
    construction). Returns (code points, 'utf-16le'|'utf-16be')
    or None."""
    if len(data) < 2 or len(data) % 2:
        return None
    if data[:2] == b"\xff\xfe":
        order = "little"
        label = "utf-16le"
    elif data[:2] == b"\xfe\xff":
        order = "big"
        label = "utf-16be"
    else:
        return None
    out = _utf16_cps(data[2:], order)
    if out is None:
        return None
    return out, label


def charset_transcode_web(data: bytes) -> dict:
    """The full web-tail chain: BOM-tagged UTF-16 first (a BOM is an
    explicit declaration, so it outranks content sniffing), then
    strict UTF-8, then cp1252, then the latin-1 floor."""
    u16 = utf16_decode_strict(data)
    if u16 is not None:
        cps, label = u16
        return {
            "encoding": label,
            "n_bytes": len(data),
            "n_cps": len(cps),
            "cp_sum": sum(cps),
            "n_c1_recovered": 0,
        }
    return charset_transcode(data)


def charset_web_stats(df: DataFrame) -> DataFrame:
    """Web-tail fallback chain over MEDIA_SCHEMA blobs."""
    cols = [f.name for f in CHARSET_SCHEMA.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, blob in zip(pdf["media_id"], pdf["content"]):
                b = bytes(blob) if blob is not None else b""
                out.append(
                    {"media_id": int(mid), **charset_transcode_web(b)}
                )
            yield pd.DataFrame(out, columns=cols)

    return map_pandas(df, gen, CHARSET_SCHEMA, ["media_id", "content"])


def _make_charset_web(i: int) -> bytes:
    """Six stripes by ``i % 6``: 0 utf-16le with an astral pair per
    4th unit, 1 utf-16be, 2 valid UTF-8, 3 cp1252, 4 latin-1
    (undefined 0x9D), 5 CORRUPT utf-16 (BOM then an odd byte count
    -> falls through the whole chain to latin-1, including the BOM
    bytes themselves). ``25 + i % 40`` units."""
    n = 25 + i % 40
    v = i % 6
    if v in (0, 1):
        cps = [
            0x10400 + (i + k) % 16 if (i + k) % 4 == 0
            else 0x41 + (i + 3 * k) % 26
            for k in range(n)
        ]
        units: list[int] = []
        for c in cps:
            if c >= 0x10000:
                c -= 0x10000
                units += [0xD800 + (c >> 10), 0xDC00 + (c & 0x3FF)]
            else:
                units.append(c)
        order = "little" if v == 0 else "big"
        bom = b"\xff\xfe" if v == 0 else b"\xfe\xff"
        return bom + b"".join(u.to_bytes(2, order) for u in units)
    if v == 2:
        reps = ("a", "é", "中", "\U0001f600")
        return "".join(reps[(i + k) % 4] for k in range(n)).encode("utf-8")
    if v == 3:
        return bytes(_CP_BYTES[(i + k) % 6] for k in range(n))
    if v == 4:
        return bytes(
            0x9D if k % 7 == 3 else _CP_BYTES[(i + k) % 6]
            for k in range(n)
        )
    # v == 5: BOM followed by an ODD number of bytes -> not UTF-16;
    # the ASCII tail keeps it out of UTF-8 (0xFF lead) and cp1252
    # keeps failing on 0x90
    return b"\xff\xfe" + bytes(
        0x90 if k % 9 == 2 else 0x61 + (i + k) % 13
        for k in range(n * 2 + 1)
    )


def synthesize_charset_web_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of six-stripe web-tail byte streams."""
    return synthesize_blobs(docs, _make_charset_web, blob_meta("bytes"))


# --------------------------------------------------------------------------
# The WARC/HTML front-door decode chain: bytes -> str with the
# precedence a real crawl reader needs (the round-12 `weak`):
#
#   1. declared charset (HTTP Content-Type charset= parameter) — a
#      declaration is tried STRICTLY; a lying header whose bytes do
#      not decode falls through to sniffing instead of mojibaking;
#   2. BOM (UTF-8 EF BB BF / UTF-16 FF FE / FE FF) — an explicit
#      in-band declaration;
#   3. <meta charset=...> / <meta http-equiv Content-Type> prescan
#      over the first 1024 bytes (the WHATWG encoding-sniff window);
#   4. strict UTF-8 (~95% of real crawls);
#   5. strict Windows-1252 (the mislabeled-latin-1 tail);
#   6. latin-1 floor (never fails; every byte is its code point).
#
# Label normalization follows the WHATWG Encoding Standard's mapping
# for the legacy web: iso-8859-1/latin-1/us-ascii label the
# Windows-1252 decoder (what the bytes actually are on real pages).
# --------------------------------------------------------------------------

_UTF8_LABELS = frozenset({"utf-8", "utf8", "unicode-1-1-utf-8"})
_CP1252_LABELS = frozenset(
    {
        "windows-1252", "cp1252", "x-cp1252", "cp-1252",
        "iso-8859-1", "iso8859-1", "iso_8859-1", "iso88591",
        "latin-1", "latin1", "l1", "ascii", "us-ascii",
        "ansi_x3.4-1968",
    }
)
_UTF16LE_LABELS = frozenset({"utf-16", "utf-16le", "utf16"})
_UTF16BE_LABELS = frozenset({"utf-16be"})


def _decode_declared(data: bytes, label: str) -> tuple[str, str] | None:
    """Strict decode under a declared charset label, or None when the
    label is unknown OR the bytes do not decode under it (either way
    the caller falls through the chain). A leading BOM matching the
    declared family is stripped; for utf-16 an explicit BOM wins over
    the declared byte order (RFC 2781 §4.3)."""
    label = label.strip().lower()
    if label in _UTF8_LABELS:
        body = data[3:] if data[:3] == b"\xef\xbb\xbf" else data
        cps = utf8_decode_strict(body)
        if cps is None:
            return None
        return "".join(map(chr, cps)), "utf-8"
    if label in _CP1252_LABELS:
        cps = cp1252_decode_strict(data)
        if cps is None:
            return None
        return "".join(map(chr, cps)), "cp1252"
    if label in _UTF16LE_LABELS or label in _UTF16BE_LABELS:
        if data[:2] in (b"\xff\xfe", b"\xfe\xff"):
            got = utf16_decode_strict(data)
            if got is None:
                return None
            cps, enc = got
            return "".join(map(chr, cps)), enc
        order = "little" if label in _UTF16LE_LABELS else "big"
        cps = _utf16_cps(data, order)
        if cps is None:
            return None
        return "".join(map(chr, cps)), f"utf-16{order[0]}e"
    return None  # unknown label -> sniff instead


def sniff_meta_charset(data: bytes) -> str | None:
    """WHATWG-style prescan of the first 1024 bytes for
    ``<meta charset=...>`` or the charset parameter inside
    ``<meta http-equiv="Content-Type" content="...">``. The window is
    scanned as latin-1 (byte-transparent); the returned label is
    lower-cased, quotes stripped."""
    import re

    head = data[:1024].decode("latin-1")
    # WHATWG prescan: a <meta> inside an HTML comment is NOT a
    # declaration — strip comments (an unclosed one eats the rest of
    # the window) before looking for charset=.  The degenerate
    # complete comments <!--> and <!---> close immediately (the
    # opener's -- may overlap the closer per the spec's scan-from
    # position), so they must not swallow what follows.
    head = re.sub(
        r"<!-->|<!--->|<!--.*?-->|<!--.*\Z", " ", head, flags=re.DOTALL
    )
    m = re.search(
        r"<meta[^>]+charset\s*=\s*[\"']?\s*([A-Za-z0-9._:\-]+)",
        head,
        re.IGNORECASE,
    )
    return m.group(1).lower() if m else None


def decode_web_bytes(
    data: bytes, declared: str | None = None
) -> tuple[str, str, str]:
    """The front-door chain (module section doc). Never fails.

    Returns ``(text, encoding, source)`` where ``source`` names the
    rung that fired: ``http`` (declared charset honored), ``bom``,
    ``meta``, ``content`` (strict UTF-8 or cp1252 sniff), or
    ``floor`` (latin-1)."""
    if declared:
        got = _decode_declared(data, declared)
        if got is not None:
            return got[0], got[1], "http"
    if data[:3] == b"\xef\xbb\xbf":
        cps = utf8_decode_strict(data[3:])
        if cps is not None:
            return "".join(map(chr, cps)), "utf-8", "bom"
    u16 = utf16_decode_strict(data)
    if u16 is not None:
        cps, enc = u16
        return "".join(map(chr, cps)), enc, "bom"
    meta = sniff_meta_charset(data)
    if meta:
        got = _decode_declared(data, meta)
        if got is not None:
            return got[0], got[1], "meta"
    cps = utf8_decode_strict(data)
    if cps is not None:
        return "".join(map(chr, cps)), "utf-8", "content"
    cps = cp1252_decode_strict(data)
    if cps is not None:
        return "".join(map(chr, cps)), "cp1252", "content"
    return data.decode("latin-1"), "latin-1", "floor"
