"""PDF text extraction — minimal uncompressed-xref walk with REAL
FlateDecode: PDFs are a first-class LLM corpus source, and the
hand-written RFC 1951 inflate (``operators/inflate.py``) already
supplies the codec every /FlateDecode content stream needs.

The walk follows the actual file grammar (ISO 32000-1), not a regex
scrape:

1. ``%PDF-`` header; ``startxref`` -> byte offset of the xref table;
2. uncompressed xref table (``N 10-digit-offset 5-digit-gen n/f``
   entries) + ``trailer`` dict -> ``/Root``;
3. object walk via xref offsets — each offset must land EXACTLY on
   its ``N 0 obj`` header (the cross-check that catches a shifted
   table before it mis-slices every stream);
4. catalog ``/Pages`` -> ``/Kids`` -> per-page ``/Contents`` stream
   objects; each stream dict must declare ``/Length`` and
   ``/Filter /FlateDecode``; the stream body is inflated by the
   from-scratch decoder;
5. content-stream scan: ``(string) Tj`` show-text operators, with
   PDF string-literal escapes (``\\( \\) \\\\``) and balanced nested
   parens decoded; one output line per Tj.

Corrupt-stripe contract: any grammar violation (bad header, shifted
xref, missing /Root, undeclared filter, inflate failure) degrades the
row to ``format='unknown'``. Arrow-batched ``mapInPandas``, zero
shuffle — blobs never leave their input partition.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.inflate import inflate
from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)

_OBJ_RE = re.compile(rb"(\d+) 0 obj\b")
_REF_RE = re.compile(rb"/(\w+)\s+(\d+) 0 R")
_KIDS_RE = re.compile(rb"/Kids\s*\[((?:\s*\d+ 0 R)+)\s*\]")
_LEN_RE = re.compile(rb"/Length\s+(\d+)\b")


def _parse_xref(data: bytes, pos: int) -> tuple[dict[int, int], int] | None:
    """Uncompressed xref table at ``pos`` -> ({obj_num: offset},
    trailer_pos) or None."""
    if data[pos : pos + 4] != b"xref":
        return None
    i = pos + 4
    offsets: dict[int, int] = {}
    while True:
        m = re.match(rb"\s*(\d+)\s+(\d+)\s*[\r\n]+", data[i : i + 64])
        if not m:
            break
        first, count = int(m.group(1)), int(m.group(2))
        i += m.end()
        for k in range(count):
            ent = data[i : i + 20]
            em = re.match(rb"(\d{10}) (\d{5}) ([nf])", ent)
            if not em:
                return None
            if em.group(3) == b"n":
                offsets[first + k] = int(em.group(1))
            i += 20
    m = re.match(rb"\s*trailer", data[i : i + 32])
    if not m:
        return None
    return offsets, i + m.end()


def _object_body(data: bytes, off: int, num: int) -> bytes | None:
    """The bytes between ``num 0 obj`` and ``endobj``; the offset must
    land exactly on the header."""
    m = _OBJ_RE.match(data, off)
    if not m or int(m.group(1)) != num:
        return None
    end = data.find(b"endobj", m.end())
    if end < 0:
        return None
    return data[m.end() : end]


def _decode_pdf_string(raw: bytes) -> str | None:
    """PDF literal-string body (between the outer parens): escapes and
    balanced nested parens."""
    out = []
    i, n = 0, len(raw)
    while i < n:
        c = raw[i : i + 1]
        if c == b"\\":
            if i + 1 >= n:
                return None
            e = raw[i + 1 : i + 2]
            out.append(
                {b"(": "(", b")": ")", b"\\": "\\", b"n": "\n",
                 b"r": "\r", b"t": "\t"}.get(e, e.decode("latin-1"))
            )
            i += 2
        else:
            out.append(c.decode("latin-1"))
            i += 1
    return "".join(out)


def _scan_tj(content: bytes) -> list[str] | None:
    """All ``(string) Tj`` show-text operators, in stream order."""
    lines: list[str] = []
    i, n = 0, len(content)
    while i < n:
        if content[i : i + 1] != b"(":
            i += 1
            continue
        depth, j = 1, i + 1
        start = j
        while j < n and depth:
            c = content[j : j + 1]
            if c == b"\\":
                j += 2
                continue
            if c == b"(":
                depth += 1
            elif c == b")":
                depth -= 1
            j += 1
        if depth:
            return None  # unbalanced literal
        body = content[start : j - 1]
        rest = content[j:]
        m = re.match(rb"\s*Tj", rest)
        if m:
            s = _decode_pdf_string(body)
            if s is None:
                return None
            lines.append(s)
            i = j + m.end()
        else:
            i = j
    return lines


def extract_pdf_text(data: bytes) -> dict | None:
    """Full walk (module doc): returns ``{'n_pages', 'n_objects',
    'n_text_ops', 'body_text'}`` or None."""
    if not data.startswith(b"%PDF-"):
        return None
    tail = data[-128:]
    m = re.search(rb"startxref\s+(\d+)\s+%%EOF", tail)
    if not m:
        return None
    xref_pos = int(m.group(1))
    if xref_pos >= len(data):
        return None
    parsed = _parse_xref(data, xref_pos)
    if parsed is None:
        return None
    offsets, trailer_pos = parsed
    trailer = data[trailer_pos : trailer_pos + 256]
    rm = re.search(rb"/Root\s+(\d+) 0 R", trailer)
    if rm is None:
        return None
    root = _object_body(data, offsets.get(int(rm.group(1)), -1),
                        int(rm.group(1)))
    if root is None:
        return None
    refs = {k.decode(): int(v) for k, v in _REF_RE.findall(root)}
    if "Pages" not in refs:
        return None
    pages_obj = _object_body(data, offsets.get(refs["Pages"], -1),
                             refs["Pages"])
    if pages_obj is None:
        return None
    km = _KIDS_RE.search(pages_obj)
    if km is None:
        return None
    kids = [int(x) for x in re.findall(rb"(\d+) 0 R", km.group(1))]
    if not kids:
        return None
    lines: list[str] = []
    n_ops = 0
    for kid in kids:
        page = _object_body(data, offsets.get(kid, -1), kid)
        if page is None:
            return None
        cm = re.search(rb"/Contents\s+(\d+) 0 R", page)
        if cm is None:
            return None
        cnum = int(cm.group(1))
        cobj = _object_body(data, offsets.get(cnum, -1), cnum)
        if cobj is None:
            return None
        lm = _LEN_RE.search(cobj)
        if lm is None or b"/FlateDecode" not in cobj:
            return None
        sm = re.search(rb"stream\r?\n", cobj)
        if sm is None:
            return None
        body = cobj[sm.end() : sm.end() + int(lm.group(1))]
        if len(body) != int(lm.group(1)):
            return None
        if not cobj[sm.end() + len(body) :].lstrip().startswith(
            b"endstream"
        ):
            return None
        try:
            content = inflate(bytes(body))
        except ValueError:
            return None
        tj = _scan_tj(content)
        if tj is None:
            return None
        n_ops += len(tj)
        lines.extend(tj)
    return {
        "n_pages": len(kids),
        "n_objects": len(offsets),
        "n_text_ops": n_ops,
        "body_text": "\n".join(lines),
    }


PDF_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_pages", LongType()),
        StructField("n_objects", LongType()),
        StructField("n_text_ops", LongType()),
        StructField("body_text", StringType()),
    ]
)


def pdf_text_stats(df: DataFrame) -> DataFrame:
    """FlateDecode PDF text extraction over MEDIA_SCHEMA blobs."""
    return blob_stats(df, extract_pdf_text, PDF_SCHEMA, "pdf")


# --------------------------------------------------------------------------
# Fixture synthesis
# --------------------------------------------------------------------------


def _page_lines(i: int, p: int, n: int, words: list[str]) -> list[str]:
    """The text lines page ``p`` of document ``i`` shows: a header, a
    word-stride slice of the doc text, and an escape exerciser."""
    chunk = " ".join(words[p::n])
    return [f"Doc {i} page {p}", chunk, "esc ( ) \\ done"]


def _escape_pdf(s: str) -> bytes:
    return (
        s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    ).encode("latin-1")


def _make_pdf(i: int, text: str) -> bytes:
    """``1 + i % 3`` pages; page p's content stream shows three Tj
    lines (header, word-stride slice, escape exerciser), compressed by
    zlib raw-deflate so the hand inflate is validated per stream.
    Every 9th id gets a startxref pointing 3 bytes past the real
    table — the shifted-xref corruption the offset cross-check must
    catch."""
    n = 1 + i % 3
    words = text.split(" ")
    objs: list[bytes] = []
    # 1: catalog, 2: pages, then (page, contents) per page
    kid_nums = [3 + 2 * p for p in range(n)]
    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    kids = b" ".join(b"%d 0 R" % k for k in kid_nums)
    objs.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n
    )
    for p in range(n):
        objs.append(
            b"<< /Type /Page /Parent 2 0 R /Contents %d 0 R >>"
            % (kid_nums[p] + 1)
        )
        ops = b"\n".join(
            b"BT /F1 12 Tf 72 %d Td (" % (720 - 20 * k)
            + _escape_pdf(line)
            + b") Tj ET"
            for k, line in enumerate(_page_lines(i, p, n, words))
        )
        comp = zlib.compressobj(6, zlib.DEFLATED, -15)
        flate = comp.compress(ops) + comp.flush()
        objs.append(
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(flate)
            + flate
            + b"\nendstream"
        )
    # interleave: objs list currently [catalog, pages, page0, cont0, ...]
    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]  # object 0 is the free head
    for num, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % num + body + b"\nendobj\n"
    xref_pos = len(out)
    out += b"xref\n0 %d\n" % (len(objs) + 1)
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\n" % (len(objs) + 1)
    start = xref_pos + 3 if i % 9 == 0 else xref_pos
    out += b"startxref\n%d\n%%%%EOF" % start
    return bytes(out)


def synthesize_pdf_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of FlateDecode PDFs built from the document
    texts."""
    return synthesize_blobs(docs, _make_pdf, blob_meta("pdf"), None, ("doc_id", "text"))
