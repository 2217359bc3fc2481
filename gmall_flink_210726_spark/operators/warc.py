"""WARC record framing (ISO 28500 / WARC 1.0) over the multi-member
gzip walk — the actual CommonCrawl ingestion contract: a .warc.gz file
is one gzip member PER RECORD, and each member's decompressed payload
is exactly one record:

    WARC/1.0<CRLF>
    WARC-Type: response<CRLF>
    WARC-Record-ID: <urn:uuid:...><CRLF>
    WARC-Target-URI: http://...<CRLF>     (when applicable)
    WARC-Date: ...<CRLF>
    Content-Length: N<CRLF>
    <CRLF>
    <N bytes of content block>
    <CRLF><CRLF>

The walk enforces the full framing contract, not just the header
grammar: version line must be exactly ``WARC/1.0``; header fields are
``Name: value`` lines up to the first empty line (duplicate
Content-Length rejected); the content block is EXACTLY Content-Length
bytes; the record terminator is EXACTLY CRLF CRLF; and the member must
end there — the member->record cross-check that catches a
desynchronized length field before it silently shifts every later
byte. WARC-Type and Content-Length are mandatory (ISO 28500 §5);
responses must carry a WARC-Target-URI.

Corrupt-stripe contract: any framing violation in any member degrades
the whole stream row to ``format='unknown'`` (a shifted record makes
everything after it unreliable). Arrow-batched ``mapInPandas``; only
integer stats and the first URI shuffle.

Gzip layer: ``operators/inflate.py`` iter_gzip_members (hand-written
RFC 1951/1952 decode, CRC-proven per member).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.inflate import iter_gzip_members
from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)

_CRLF = b"\r\n"


def parse_warc_record(payload: bytes) -> dict | None:
    """One member's payload -> ``{'type','uri','content': bytes}`` or
    ``None`` on any framing violation (module doc contract)."""
    sep = payload.find(_CRLF + _CRLF)
    if sep < 0:
        return None
    head = payload[:sep]
    lines = head.split(_CRLF)
    if lines[0] != b"WARC/1.0":
        return None
    fields: dict[bytes, bytes] = {}
    for ln in lines[1:]:
        colon = ln.find(b":")
        if colon <= 0:
            return None
        key = ln[:colon].strip().lower()
        if key in fields:
            return None  # duplicate header field
        fields[key] = ln[colon + 1 :].strip()
    rtype = fields.get(b"warc-type")
    clen_raw = fields.get(b"content-length")
    if rtype is None or clen_raw is None:
        return None
    if not clen_raw.isdigit():
        return None
    clen = int(clen_raw)
    body_start = sep + 4
    # exact framing: content block, CRLF CRLF, then END of member
    if body_start + clen + 4 != len(payload):
        return None
    if payload[body_start + clen :] != _CRLF + _CRLF:
        return None
    uri = fields.get(b"warc-target-uri", b"").decode("latin-1")
    rtype_s = rtype.decode("latin-1")
    if rtype_s == "response" and not uri:
        return None
    return {
        "type": rtype_s,
        "uri": uri,
        "ctype": fields.get(b"content-type", b"").decode("latin-1"),
        "content": payload[body_start : body_start + clen],
        "fields": fields,
    }


def response_payload(rec: dict) -> tuple[dict | None, bytes] | None:
    """Peel the HTTP/1.1 message layer when the record carries one.

    ISO 28500 §6 says a ``response`` record's Content-Type SHOULD be
    ``application/http; msgtype=response`` — that WARC header (not a
    body sniff) is the discriminator between HTTP-bearing records
    (real CommonCrawl, 2013+) and bare-payload captures. Returns
    ``(http_meta, body)`` where ``http_meta`` is
    ``operators/httpmsg.py parse_http_response``'s dict for
    HTTP-bearing records and ``None`` for bare ones; returns ``None``
    outright when the declared HTTP message is malformed (status
    line, chunked framing, Content-Length lie, content coding)."""
    if rec["ctype"].split(";")[0].strip().lower() == "application/http":
        from gmall_flink_210726_spark.operators.httpmsg import (
            parse_http_response,
        )

        msg = parse_http_response(rec["content"])
        if msg is None:
            return None
        return msg, msg["body"]
    return None, rec["content"]


def _body_text(body: bytes, msg: dict | None) -> str:
    """Front-door charset decode (the round-12 ``weak`` fix): the
    HTTP ``Content-Type: ...; charset=`` parameter when the record
    carried an HTTP message, then BOM, then ``<meta charset>``
    prescan, then strict UTF-8, then cp1252, then the latin-1 floor —
    ``operators/charset.py decode_web_bytes``. A lying declaration
    whose bytes do not strictly decode falls through to sniffing
    instead of mojibaking."""
    from gmall_flink_210726_spark.operators.charset import (
        decode_web_bytes,
    )
    from gmall_flink_210726_spark.operators.httpmsg import (
        content_type_charset,
    )

    declared = None
    if msg is not None:
        declared = content_type_charset(
            msg["headers"].get("content-type")
        )
    return decode_web_bytes(body, declared)[0]


def _conversion_text(rec: dict) -> str:
    """WET conversion payload -> text through the same chain; the
    declaration rung reads the WARC record's own Content-Type
    (``text/plain; charset=...`` when present)."""
    from gmall_flink_210726_spark.operators.charset import (
        decode_web_bytes,
    )
    from gmall_flink_210726_spark.operators.httpmsg import (
        content_type_charset,
    )

    return decode_web_bytes(
        rec["content"], content_type_charset(rec["ctype"])
    )[0]


def _walk_warc(data: bytes) -> dict | None:
    members = iter_gzip_members(data)
    if members is None:
        return None
    n = n_resp = cbytes = psum = 0
    first_uri = ""
    for _name, payload in members:
        rec = parse_warc_record(payload)
        if rec is None:
            return None
        n += 1
        cbytes += len(rec["content"])
        psum += sum(rec["content"])
        if rec["type"] == "response":
            n_resp += 1
            if not first_uri:
                first_uri = rec["uri"]
    return {
        "n_records": n,
        "n_responses": n_resp,
        "content_bytes": cbytes,
        "payload_sum": psum,
        "first_uri": first_uri,
    }


WARC_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_records", LongType()),
        StructField("n_responses", LongType()),
        StructField("content_bytes", LongType()),
        StructField("payload_sum", LongType()),
        StructField("first_uri", StringType()),
    ]
)


def warc_record_stats(df: DataFrame) -> DataFrame:
    """WARC framing walk over MEDIA_SCHEMA blobs (module doc)."""
    return blob_stats(df, _walk_warc, WARC_SCHEMA, "warc")


# --------------------------------------------------------------------------
# Fixture synthesis
# --------------------------------------------------------------------------


def make_warc_record(
    rtype: str,
    uri: str,
    content: bytes,
    declared_len: int | None = None,
    ctype: str | None = None,
    record_id: str | None = None,
    extra_headers: list[bytes] | None = None,
) -> bytes:
    """Render one record; ``declared_len`` overrides the true length
    (fixture corruption knob); ``ctype`` adds the record Content-Type
    header (``application/http; msgtype=response`` marks an
    HTTP-bearing record per ISO 28500 §6); ``extra_headers`` appends
    raw header lines (revisit plumbing: WARC-Refers-To et al.)."""
    clen = len(content) if declared_len is None else declared_len
    rid = record_id or "urn:uuid:rec"
    head = [
        b"WARC/1.0",
        b"WARC-Type: " + rtype.encode("ascii"),
        b"WARC-Record-ID: <" + rid.encode("ascii") + b">",
        b"WARC-Date: 2024-01-01T00:00:00Z",
        b"Content-Length: " + str(clen).encode("ascii"),
    ]
    if ctype:
        head.insert(3, b"Content-Type: " + ctype.encode("ascii"))
    if uri:
        head.insert(3, b"WARC-Target-URI: " + uri.encode("ascii"))
    if extra_headers:
        head[4:4] = extra_headers
    return _CRLF.join(head) + _CRLF + _CRLF + content + _CRLF + _CRLF


def _gzip_member(payload: bytes) -> bytes:
    import struct
    import zlib

    c = zlib.compressobj(6, zlib.DEFLATED, -15)
    body = c.compress(payload) + c.flush()
    return (
        b"\x1f\x8b\x08\x00" + b"\x00\x00\x00\x00" + b"\x00\x03"
        + body
        + struct.pack("<II", zlib.crc32(payload), len(payload))
    )


def _make_warc_stream(i: int) -> bytes:
    """``1 + i % 4`` records: record 0 is a warcinfo, the rest are
    responses at ``http://example.com/{i}/{j}``; content is the
    stateless run-text formula (oracle-recomputable blind). Every 12th
    id declares Content-Length one byte long on its LAST record — the
    gzip layer still proves CRC-clean, so only the WARC framing
    cross-check catches it."""
    from gmall_flink_210726_spark.operators.inflate import _run_text

    n = 1 + i % 4
    parts = []
    for j in range(n):
        content = _run_text(i, j, 120 + (i * 47 + 23 * j) % 400)
        bad = i % 12 == 0 and j == n - 1
        if j == 0:
            rec = make_warc_record(
                "warcinfo",
                "",
                content,
                declared_len=len(content) + 1 if bad else None,
            )
        else:
            rec = make_warc_record(
                "response",
                f"http://example.com/{i}/{j}",
                content,
                declared_len=len(content) + 1 if bad else None,
            )
        parts.append(_gzip_member(rec))
    return b"".join(parts)


def synthesize_warc_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of .warc.gz streams."""
    return synthesize_blobs(docs, _make_warc_stream, blob_meta("warc"), partitions)


# --------------------------------------------------------------------------
# End-to-end CommonCrawl ingest: .warc.gz -> gzip member -> WARC record
# -> HTML response body -> extracted text. The composition that makes
# the whole web-corpus front door real in ONE pass: the gzip layer
# proves CRC, the WARC layer proves framing, the HTML layer walks the
# tag grammar, and the text that falls out is what the 40+ downstream
# text operators consume.
# --------------------------------------------------------------------------

WARC_HTML_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_records", LongType()),
        StructField("title", StringType()),
        StructField("n_blocks", LongType()),
        StructField("n_words", LongType()),
        StructField("body_text", StringType()),
    ]
)


def _walk_warc_html(data: bytes) -> dict | None:
    """Gzip members -> WARC records -> (HTTP message layer when the
    record's Content-Type declares application/http) -> HTML
    extraction of every response body. Any layer failing degrades the
    whole stream (a desynchronized record or swallowed page makes
    everything after it unreliable)."""
    from gmall_flink_210726_spark.operators.html import extract_text

    members = iter_gzip_members(data)
    if members is None:
        return None
    n = 0
    title = ""
    blocks: list[str] = []
    for _name, payload in members:
        rec = parse_warc_record(payload)
        if rec is None:
            return None
        n += 1
        if rec["type"] != "response":
            continue
        peeled = response_payload(rec)
        if peeled is None:
            return None
        msg, body = peeled
        res = extract_text(_body_text(body, msg))
        if res is None:
            return None
        if not title:
            title = res["title"]
        blocks.extend(res["blocks"])
    body = "\n".join(blocks)
    return {
        "n_records": n,
        "title": title,
        "n_blocks": len(blocks),
        "n_words": sum(len(b.split(" ")) for b in blocks),
        "body_text": body,
    }


def warc_html_text(df: DataFrame) -> DataFrame:
    """The full CommonCrawl ingest pass over MEDIA_SCHEMA blobs."""
    return blob_stats(df, _walk_warc_html, WARC_HTML_SCHEMA, "warc")


def _make_warc_html_stream(i: int, text: str) -> bytes:
    """A warcinfo record plus ONE response whose content IS the HTML
    fixture page for this document (operators/html.py _make_html) —
    so corruption can strike either layer independently: every 11th id
    carries the page's unclosed-script swallow (the HTML stripe),
    every 12th id lies about Content-Length (the WARC stripe, still
    CRC-clean at the gzip layer). Bare records carry no HTTP headers,
    so the charset stripe (i % 3) exercises the header-less rungs of
    the decode chain: 0 UTF-8 bytes (content sniff), 1 cp1252 bytes
    with an injected ``<meta charset="windows-1252">`` (the WHATWG
    prescan rung), 2 UTF-16 with BOM (the BOM rung) — all carrying
    the non-ASCII marker paragraph, all extracting the SAME text."""
    from gmall_flink_210726_spark.operators.html import _make_html
    from gmall_flink_210726_spark.operators.inflate import _run_text

    info = make_warc_record("warcinfo", "", _run_text(i, 0, 80))
    page_str = _make_html(i, text).replace(
        "</body>", f"<p>{_charset_marker(i)}</p>\n</body>"
    )
    v = i % 3
    if v == 0:
        page = page_str.encode("utf-8")
    elif v == 1:
        page = page_str.replace(
            "<style>", '<meta charset="windows-1252">\n<style>', 1
        ).encode("cp1252")
    else:
        page = page_str.encode("utf-16")
    bad_len = i % 12 == 0
    resp = make_warc_record(
        "response",
        f"http://example.com/doc/{i}",
        page,
        declared_len=len(page) + 1 if bad_len else None,
    )
    return _gzip_member(info) + _gzip_member(resp)


def synthesize_warc_html_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of .warc.gz streams whose response bodies
    are the HTML fixture pages."""
    return synthesize_blobs(
        docs, _make_warc_html_stream, blob_meta("warc"), partitions, ("doc_id", "text")
    )


# --------------------------------------------------------------------------
# WET conversion records (CommonCrawl's *.warc.wet.gz): WARC-Type
# 'conversion' with a text/plain payload that IS the pre-extracted
# text. Real pipelines consume CC through either door — raw WARC
# (HTML extract per response) or WET (passthrough) — so the combined
# walk accepts BOTH record types in one stream: response bodies go
# through the tag-grammar extractor, conversion payloads split to
# their non-empty lines unchanged.
# --------------------------------------------------------------------------

WARC_TEXT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_records", LongType()),
        StructField("n_responses", LongType()),
        StructField("n_conversions", LongType()),
        StructField("title", StringType()),
        StructField("n_blocks", LongType()),
        StructField("n_words", LongType()),
        StructField("body_text", StringType()),
    ]
)


def _walk_warc_text(data: bytes) -> dict | None:
    """Gzip members -> WARC records -> text, accepting response
    (HTML extraction) AND conversion (WET passthrough: non-empty
    lines become blocks, bytes untouched). Any layer failing degrades
    the whole stream."""
    from gmall_flink_210726_spark.operators.html import extract_text

    members = iter_gzip_members(data)
    if members is None:
        return None
    n = n_resp = n_conv = 0
    title = ""
    blocks: list[str] = []
    for _name, payload in members:
        rec = parse_warc_record(payload)
        if rec is None:
            return None
        n += 1
        if rec["type"] == "response":
            peeled = response_payload(rec)  # HTTP-bearing dispatch
            if peeled is None:
                return None
            msg, body = peeled
            res = extract_text(_body_text(body, msg))
            if res is None:
                return None
            if not title:
                title = res["title"]
            blocks.extend(res["blocks"])
            n_resp += 1
        elif rec["type"] == "conversion":
            text = _conversion_text(rec)
            blocks.extend(ln for ln in text.split("\n") if ln != "")
            n_conv += 1
    return {
        "n_records": n,
        "n_responses": n_resp,
        "n_conversions": n_conv,
        "title": title,
        "n_blocks": len(blocks),
        "n_words": sum(len(b.split(" ")) for b in blocks),
        "body_text": "\n".join(blocks),
    }


def warc_text_extract(df: DataFrame) -> DataFrame:
    """WARC + WET combined ingest pass over MEDIA_SCHEMA blobs."""
    return blob_stats(df, _walk_warc_text, WARC_TEXT_SCHEMA, "warc")


def _make_wet_stream(i: int, text: str) -> bytes:
    """Mixed-record fixture: a warcinfo, then by ``i % 3`` — 0: one
    HTML response; 1: one WET conversion (payload = the doc text as
    two lines with a BLANK line between, proving the empty-line
    drop); 2: both, response first. Every 13th id declares the LAST
    record's Content-Length one byte long (WARC layer, CRC-clean
    below); response-bearing ids keep the HTML fixture's every-11th
    unclosed-script stripe (HTML layer)."""
    from gmall_flink_210726_spark.operators.html import _make_html
    from gmall_flink_210726_spark.operators.inflate import _run_text

    ws = text.split(" ")
    h = len(ws) // 2
    conv = (" ".join(ws[:h]) + "\n\n" + " ".join(ws[h:])).encode("latin-1")
    uri = f"http://example.com/doc/{i}"
    v = i % 3
    specs: list[tuple[str, str, bytes]] = [
        ("warcinfo", "", _run_text(i, 0, 60))
    ]
    if v != 1:
        specs.append(
            ("response", uri, _make_html(i, text).encode("latin-1"))
        )
    if v != 0:
        specs.append(("conversion", uri, conv))
    bad_len = i % 13 == 0
    parts = []
    for j, (t, u, c) in enumerate(specs):
        dl = len(c) + 1 if bad_len and j == len(specs) - 1 else None
        parts.append(_gzip_member(make_warc_record(t, u, c, dl)))
    return b"".join(parts)


def synthesize_wet_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of mixed WARC/WET .gz streams."""
    return synthesize_blobs(
        docs, _make_wet_stream, blob_meta("warc"), partitions, ("doc_id", "text")
    )


# --------------------------------------------------------------------------
# .warc.zst — the MODERN CommonCrawl container (CC distributes its
# newer crawls zstd-compressed): one zstd frame per record, mirroring
# the one-gzip-member-per-record convention, decoded by the from-
# scratch RFC 8878 decoder instead of the RFC 1952 walk. Same record
# grammar, same per-layer degrade contract — the whole web-corpus
# front door now runs end-to-end on either codec family.
# --------------------------------------------------------------------------


def _walk_warc_zstd_text(data: bytes) -> dict | None:
    """zstd frames -> WARC records -> text (response bodies through
    the HTML extractor, conversion payloads passing through)."""
    from gmall_flink_210726_spark.operators.html import extract_text
    from gmall_flink_210726_spark.operators.zstd import iter_zstd_frames

    n = n_resp = n_conv = 0
    title = ""
    blocks: list[str] = []
    try:
        frames = list(iter_zstd_frames(data))
    except ValueError:
        return None
    for payload, _checked in frames:
        if payload is None:
            continue  # skippable frame (CC uses them for dictionaries)
        rec = parse_warc_record(payload)
        if rec is None:
            return None
        n += 1
        if rec["type"] == "response":
            peeled = response_payload(rec)  # HTTP-bearing dispatch
            if peeled is None:
                return None
            msg, body = peeled
            res = extract_text(_body_text(body, msg))
            if res is None:
                return None
            if not title:
                title = res["title"]
            blocks.extend(res["blocks"])
            n_resp += 1
        elif rec["type"] == "conversion":
            text = _conversion_text(rec)
            blocks.extend(ln for ln in text.split("\n") if ln != "")
            n_conv += 1
    return {
        "n_records": n,
        "n_responses": n_resp,
        "n_conversions": n_conv,
        "title": title,
        "n_blocks": len(blocks),
        "n_words": sum(len(b.split(" ")) for b in blocks),
        "body_text": "\n".join(blocks),
    }


def warc_zstd_text_extract(df: DataFrame) -> DataFrame:
    """.warc.zst ingest pass over MEDIA_SCHEMA blobs."""
    return blob_stats(df, _walk_warc_zstd_text, WARC_TEXT_SCHEMA, "warc")


def _make_warc_zstd_stream(i: int, text: str) -> bytes:
    """Same mixed-record layout as ``_make_wet_stream`` (warcinfo +
    response/conversion by ``i % 3``) but each record rides its own
    ZSTD frame (reference-encoder compressed, level rotating with
    id). Corruption stripes mirror the gzip twin: every 13th id
    lies about the LAST record's Content-Length (the zstd layer
    still decodes — only WARC framing catches it), response-bearing
    every-11th ids keep the unclosed-script HTML stripe.

    Every 5th id uses the REAL CommonCrawl ``.warc.zst`` dictionary
    convention (iipc warc-specifications): a LEADING skippable frame
    with magic 0x184D2A5D carries a trained RFC 8878 §5 dictionary
    (itself zstd-compressed on every 10th id — the spec allows
    either), and all record frames are reference-encoder compressed
    AGAINST it, so the hand decoder must resolve the Dictionary_ID,
    pre-seed entropy/repeat state, and prime the match window. Two
    dictionary lies live on already-bad 13-stripe rows (so the
    oracle is untouched): every 195th id ships a TRUNCATED
    dictionary, every other 65th id omits the dictionary frame while
    its frames still name the DID — both must refuse, never decode
    garbage."""
    import struct as _s

    import pyarrow as pa

    from gmall_flink_210726_spark.operators.html import _make_html
    from gmall_flink_210726_spark.operators.inflate import _run_text
    from gmall_flink_210726_spark.operators.zstd import (
        fixture_zstd_dict,
        zstd_ref_compress_dict,
    )

    codec = pa.Codec("zstd", compression_level=1 + 6 * (i % 4))
    ws = text.split(" ")
    h = len(ws) // 2
    conv = (" ".join(ws[:h]) + "\n\n" + " ".join(ws[h:])).encode("latin-1")
    uri = f"http://example.com/doc/{i}"
    v = i % 3
    specs: list[tuple[str, str, bytes]] = [
        ("warcinfo", "", _run_text(i, 0, 60))
    ]
    if v != 1:
        specs.append(
            ("response", uri, _make_html(i, text).encode("latin-1"))
        )
    if v != 0:
        specs.append(("conversion", uri, conv))
    bad_len = i % 13 == 0
    use_dict = i % 5 == 0
    parts = []
    d = None
    if use_dict:
        d = fixture_zstd_dict()
        slot = (
            bytes(pa.Codec("zstd").compress(d)) if i % 10 == 0 else d
        )
        if i % 195 == 0:  # truncated dictionary (13-stripe rows)
            slot = slot[: len(slot) // 2]
            parts.append(
                _s.pack("<II", 0x184D2A5D, len(slot)) + slot
            )
        elif i % 65 == 0:  # dictionary frame omitted entirely
            pass
        else:
            parts.append(
                _s.pack("<II", 0x184D2A5D, len(slot)) + slot
            )
    for j, (t, u, c) in enumerate(specs):
        dl = len(c) + 1 if bad_len and j == len(specs) - 1 else None
        rec = make_warc_record(t, u, c, dl)
        if use_dict:
            parts.append(
                zstd_ref_compress_dict(rec, d, 1 + 6 * (i % 4))
            )
        else:
            parts.append(bytes(codec.compress(rec)))
    return b"".join(parts)


def synthesize_warc_zstd_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of .warc.zst streams."""
    return synthesize_blobs(
        docs, _make_warc_zstd_stream, blob_meta("warc"), partitions, ("doc_id", "text")
    )


# --------------------------------------------------------------------------
# WAT metadata records — the THIRD CommonCrawl file type (*.warc.wat.gz),
# completing the WARC (raw responses) / WET (pre-extracted text) / WAT
# (per-page metadata) trio a real CC pipeline consumes. A WAT record is
# WARC-Type 'metadata' whose payload is a JSON Envelope; the link graph
# lives at Envelope -> Payload-Metadata -> HTTP-Response-Metadata ->
# HTML-Metadata -> Links (a list of {"path", "url"} objects). The
# combined walk counts every record type in one stream and extracts the
# link list from each envelope; a malformed envelope (or a missing
# Envelope key) degrades the stream like any other layer violation.
# --------------------------------------------------------------------------

WAT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_records", LongType()),
        StructField("n_warcinfo", LongType()),
        StructField("n_responses", LongType()),
        StructField("n_conversions", LongType()),
        StructField("n_metadata", LongType()),
        StructField("n_links", LongType()),
        StructField("link_len_sum", LongType()),
    ]
)


def _wat_links(envelope: bytes) -> list[str] | None:
    """Parse one WAT JSON envelope -> the Links url list; None on
    malformed JSON or a grammar hole anywhere along the path."""
    import json

    try:
        doc = json.loads(envelope.decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return None
    env = doc.get("Envelope") if isinstance(doc, dict) else None
    if not isinstance(env, dict):
        return None
    pm = env.get("Payload-Metadata")
    if not isinstance(pm, dict):
        return None
    hr = pm.get("HTTP-Response-Metadata")
    if not isinstance(hr, dict):
        return None
    hm = hr.get("HTML-Metadata")
    if not isinstance(hm, dict):
        return None
    links = hm.get("Links", [])
    if not isinstance(links, list):
        return None
    out = []
    for ln in links:
        if not isinstance(ln, dict) or not isinstance(ln.get("url"), str):
            return None
        out.append(ln["url"])
    return out


def _walk_warc_wat(data: bytes) -> dict | None:
    """Gzip members -> WARC records over all FOUR types (warcinfo /
    response / conversion / metadata); metadata payloads are WAT
    JSON envelopes whose Links lists are extracted and summed."""
    members = iter_gzip_members(data)
    if members is None:
        return None
    counts = {"warcinfo": 0, "response": 0, "conversion": 0, "metadata": 0}
    n = n_links = link_len_sum = 0
    for _name, payload in members:
        rec = parse_warc_record(payload)
        if rec is None:
            return None
        n += 1
        rtype = rec["type"]
        if rtype in counts:
            counts[rtype] += 1
        if rtype == "metadata":
            links = _wat_links(rec["content"])
            if links is None:
                return None
            n_links += len(links)
            link_len_sum += sum(len(u) for u in links)
    return {
        "n_records": n,
        "n_warcinfo": counts["warcinfo"],
        "n_responses": counts["response"],
        "n_conversions": counts["conversion"],
        "n_metadata": counts["metadata"],
        "n_links": n_links,
        "link_len_sum": link_len_sum,
    }


def warc_wat_stats(df: DataFrame) -> DataFrame:
    """WARC/WET/WAT trio ingest pass over MEDIA_SCHEMA blobs."""
    return blob_stats(df, _walk_warc_wat, WAT_SCHEMA, "warc")


def _make_wat_stream(i: int) -> bytes:
    """Mixed WARC/WET/WAT fixture: a warcinfo, a response (i%3 != 1),
    a conversion (i%3 != 0), and ALWAYS one metadata record whose
    payload is a WAT JSON envelope with ``1 + i % 5`` links at
    ``http://h<(i+j)%7>.test/p<(3i+j)%50>``. Every 10th id truncates
    the envelope's last byte (malformed JSON) and must degrade."""
    import json as _json

    from gmall_flink_210726_spark.operators.inflate import _run_text

    v = i % 3
    uri = f"http://example.com/doc/{i}"
    specs: list[tuple[str, str, bytes]] = [
        ("warcinfo", "", _run_text(i, 0, 60))
    ]
    if v != 1:
        specs.append(("response", uri, _run_text(i, 1, 100)))
    if v != 0:
        specs.append(("conversion", uri, _run_text(i, 2, 80)))
    links = [
        {
            "path": "A@/href",
            "url": f"http://h{(i + j) % 7}.test/p{(3 * i + j) % 50}",
        }
        for j in range(1 + i % 5)
    ]
    envelope = _json.dumps(
        {
            "Envelope": {
                "WARC-Header-Metadata": {"WARC-Type": "response"},
                "Payload-Metadata": {
                    "HTTP-Response-Metadata": {
                        "HTML-Metadata": {"Links": links}
                    }
                },
            }
        },
        sort_keys=True,
    ).encode("utf-8")
    if i % 10 == 0:
        envelope = envelope[:-1]  # malformed JSON: degrade stripe
    specs.append(("metadata", uri, envelope))
    return b"".join(
        _gzip_member(make_warc_record(t, u, c)) for t, u, c in specs
    )


def synthesize_wat_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of mixed WARC/WET/WAT .gz streams."""
    return synthesize_blobs(docs, _make_wat_stream, blob_meta("warc"), partitions)


# --------------------------------------------------------------------------
# HTTP-bearing response records (real CommonCrawl, 2013+): the WARC
# content block is a full HTTP/1.1 response — status line, headers,
# chunked transfer framing, gzip/deflate content codings — peeled by
# operators/httpmsg.py before the HTML extractor runs. The walk
# dispatches on the record's Content-Type (application/http), so one
# stream can mix bare and HTTP-bearing records.
# --------------------------------------------------------------------------

WARC_HTTP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_records", LongType()),
        StructField("n_responses", LongType()),
        StructField("n_http", LongType()),
        StructField("status_sum", LongType()),
        StructField("n_chunked", LongType()),
        StructField("n_gzip", LongType()),
        StructField("n_deflate", LongType()),
        StructField("title", StringType()),
        StructField("n_blocks", LongType()),
        StructField("n_words", LongType()),
        StructField("body_text", StringType()),
    ]
)


def _walk_warc_http(data: bytes) -> dict | None:
    """Gzip members -> WARC records -> HTTP message layer (status
    line, chunked de-framing, content-coding decode) -> HTML
    extraction. Any layer failing — a malformed status line, a
    chunk-size lie, a Content-Length lie, an undecodable coding, a
    swallowed page — degrades the whole stream."""
    from gmall_flink_210726_spark.operators.html import extract_text

    members = iter_gzip_members(data)
    if members is None:
        return None
    n = n_resp = n_http = status_sum = 0
    n_chunked = n_gzip = n_deflate = 0
    title = ""
    blocks: list[str] = []
    for _name, payload in members:
        rec = parse_warc_record(payload)
        if rec is None:
            return None
        n += 1
        if rec["type"] != "response":
            continue
        n_resp += 1
        peeled = response_payload(rec)
        if peeled is None:
            return None
        msg, body = peeled
        if msg is not None:
            n_http += 1
            status_sum += msg["status"]
            n_chunked += int(msg["chunked"])
            n_gzip += int(
                any(e in ("gzip", "x-gzip") for e in msg["encodings"])
            )
            n_deflate += int("deflate" in msg["encodings"])
        res = extract_text(_body_text(body, msg))
        if res is None:
            return None
        if not title:
            title = res["title"]
        blocks.extend(res["blocks"])
    body_text = "\n".join(blocks)
    return {
        "n_records": n,
        "n_responses": n_resp,
        "n_http": n_http,
        "status_sum": status_sum,
        "n_chunked": n_chunked,
        "n_gzip": n_gzip,
        "n_deflate": n_deflate,
        "title": title,
        "n_blocks": len(blocks),
        "n_words": sum(len(b.split(" ")) for b in blocks),
        "body_text": body_text,
    }


def warc_http_text(df: DataFrame) -> DataFrame:
    """The REAL CommonCrawl ingest pass: HTTP-bearing response
    records de-framed and de-coded before HTML extraction. Per-blob
    stateless Arrow-batched mapInPandas; only integer stats and the
    extracted text shuffle."""
    return blob_stats(df, _walk_warc_http, WARC_HTTP_SCHEMA, "warc")


def _chunk_body(body: bytes, step: int, lie: bool = False) -> bytes:
    """Chunked-framing encoder for fixtures: ``step``-byte chunks, a
    chunk extension on the first size line, a trailer field, the
    final CRLF. ``lie`` inflates the FIRST chunk's declared size by
    one — the desync the exact-consumption check must catch."""
    out = bytearray()
    first = True
    for off in range(0, len(body), step):
        piece = body[off : off + step]
        size = len(piece) + (1 if lie and first else 0)
        ext = b";ext=a" if first else b""
        out += format(size, "x").encode("ascii") + ext + _CRLF
        out += piece + _CRLF
        first = False
    out += b"0" + _CRLF
    out += b"X-Len: " + str(len(body)).encode("ascii") + _CRLF
    out += _CRLF
    return bytes(out)


def _make_http_response(
    i: int, page: bytes, charset: str | None = "latin-1"
) -> bytes:
    """Deterministic HTTP/1.1 response around the HTML page.

    Framing variant ``i % 5``: 0 identity+Content-Length, 1 chunked,
    2 gzip+Content-Length, 3 chunked over gzip, 4 deflate+
    Content-Length. Lie stripes override the shape so the oracle can
    predict them: every 13th id declares one chunk a byte bigger than
    it is (chunk-size lie), every 13th-miss 17th id declares
    Content-Length one byte long (CL lie) — each desync must degrade
    its stream and nothing else. ``charset`` sets the Content-Type
    charset parameter (None = bare ``text/html``, exercising the
    BOM/sniff rungs of the decode chain)."""
    import zlib as _zlib

    ctype = b"Content-Type: text/html"
    if charset is not None:
        ctype += b"; charset=" + charset.encode("ascii")
    head = [
        b"HTTP/1.1 200 OK",
        b"Date: Mon, 01 Jan 2024 00:00:00 GMT",
        b"Server: warcfix/1.0",
        ctype,
    ]
    step = 7 + i % 13
    if i % 13 == 0:
        head.append(b"Transfer-Encoding: chunked")
        body = _chunk_body(page, step, lie=True)
    elif i % 17 == 0:
        head.append(
            b"Content-Length: " + str(len(page) + 1).encode("ascii")
        )
        body = page
    else:
        v = i % 5
        if v == 0:
            head.append(
                b"Content-Length: " + str(len(page)).encode("ascii")
            )
            body = page
        elif v == 1:
            head.append(b"Transfer-Encoding: chunked")
            body = _chunk_body(page, step)
        elif v == 2:
            gz = _gzip_member(page)
            head.append(b"Content-Encoding: gzip")
            head.append(
                b"Content-Length: " + str(len(gz)).encode("ascii")
            )
            body = gz
        elif v == 3:
            gz = _gzip_member(page)
            head.append(b"Content-Encoding: gzip")
            head.append(b"Transfer-Encoding: chunked")
            body = _chunk_body(gz, step)
        else:
            df = _zlib.compress(page, 6)
            head.append(b"Content-Encoding: deflate")
            head.append(
                b"Content-Length: " + str(len(df)).encode("ascii")
            )
            body = df
    return _CRLF.join(head) + _CRLF + _CRLF + body


def _charset_marker(i: int) -> str:
    """The non-ASCII paragraph every charset-striped page carries:
    cp1252-encodable on purpose (é ï — are latin-1 range, the smart
    quotes are the 0x93/0x94 C1 printables), so the SAME text
    round-trips through every encoding variant — equal extracted
    text across variants IS the proof the chain decoded correctly
    (any mojibake shifts the hash)."""
    return f"café {i} — naïve “résumé”"


def _encode_page(i: int, page_str: str) -> tuple[bytes, str | None]:
    """Charset stripe rotation ``i % 4`` for HTTP-bearing pages:
    0 UTF-8 bytes + honest ``charset=utf-8``; 1 cp1252 bytes + honest
    ``charset=windows-1252``; 2 UTF-16 (BOM) bytes with NO charset
    parameter — the BOM rung must fire; 3 cp1252 bytes under a LYING
    ``charset=utf-8`` — the strict declared decode fails and the
    chain must fall through to the cp1252 content sniff. Returns
    (bytes, charset-header-value-or-None)."""
    v = i % 4
    if v == 0:
        return page_str.encode("utf-8"), "utf-8"
    if v == 1:
        return page_str.encode("cp1252"), "windows-1252"
    if v == 2:
        return page_str.encode("utf-16"), None
    return page_str.encode("cp1252"), "utf-8"  # the lie


def _make_warc_http_stream(i: int, text: str) -> bytes:
    """A warcinfo record plus ONE HTTP-bearing response (Content-Type
    application/http; msgtype=response) whose de-framed, de-coded
    body is the HTML fixture page carrying the non-ASCII charset
    marker. Corruption can strike any of the three layers
    independently: every 11th id's page swallows via the unclosed
    script (HTML), every 13th id lies about a chunk size (HTTP
    framing), every 17th lies about Content-Length (HTTP framing) —
    all CRC-clean at the gzip layer below. Encoding rotates i%4
    (``_encode_page``): utf-8 / cp1252 / UTF-16-BOM / lying utf-8
    declaration over cp1252 bytes — all four must extract the SAME
    text."""
    from gmall_flink_210726_spark.operators.html import _make_html
    from gmall_flink_210726_spark.operators.inflate import _run_text

    info = make_warc_record("warcinfo", "", _run_text(i, 0, 80))
    page_str = _make_html(i, text).replace(
        "</body>", f"<p>{_charset_marker(i)}</p>\n</body>"
    )
    page, cs = _encode_page(i, page_str)
    resp = make_warc_record(
        "response",
        f"http://example.com/doc/{i}",
        _make_http_response(i, page, charset=cs),
        ctype="application/http; msgtype=response",
    )
    return _gzip_member(info) + _gzip_member(resp)


def synthesize_warc_http_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of .warc.gz streams whose response records
    carry full HTTP/1.1 messages (the real CommonCrawl shape)."""
    return synthesize_blobs(
        docs, _make_warc_http_stream, blob_meta("warc"), partitions, ("doc_id", "text")
    )


# --------------------------------------------------------------------------
# Request/response PAIRS — the full capture shape real crawls store:
# each fetch is a msgtype=request record followed by its
# msgtype=response record under the same WARC-Target-URI. The
# request-line's target must agree with the record's own URI (a
# desynchronized pair is how a mis-threaded crawl silently attributes
# content to the wrong page).
# --------------------------------------------------------------------------

WARC_REQ_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_records", LongType()),
        StructField("n_requests", LongType()),
        StructField("n_get", LongType()),
        StructField("n_post", LongType()),
        StructField("req_body_len", LongType()),
        StructField("status_sum", LongType()),
        StructField("n_words", LongType()),
    ]
)


def _walk_warc_reqresp(data: bytes) -> dict | None:
    """Gzip members -> WARC records -> HTTP request AND response
    message layers. Per request record: parse the request-line +
    headers + body framing, and demand the request-target equal the
    record's own WARC-Target-URI path. Responses run the full L236
    chain into HTML."""
    from gmall_flink_210726_spark.operators.html import extract_text
    from gmall_flink_210726_spark.operators.httpmsg import (
        parse_http_request,
    )

    members = iter_gzip_members(data)
    if members is None:
        return None
    n = n_req = n_get = n_post = 0
    req_body_len = status_sum = n_words = 0
    for _name, payload in members:
        rec = parse_warc_record(payload)
        if rec is None:
            return None
        n += 1
        ct = rec["ctype"].lower()
        if rec["type"] == "request":
            if "msgtype=request" not in ct.replace(" ", ""):
                return None
            req = parse_http_request(rec["content"])
            if req is None:
                return None
            uri = rec["uri"]
            # scheme://host<path> -> the path must equal the target
            path_at = uri.find("/", uri.find("://") + 3)
            if path_at < 0 or uri[path_at:] != req["target"]:
                return None  # mis-threaded pair
            if "host" not in req["headers"]:
                return None  # HTTP/1.1 requests must carry Host
            n_req += 1
            if req["method"] == "GET":
                n_get += 1
            elif req["method"] == "POST":
                n_post += 1
            req_body_len += len(req["body"])
        elif rec["type"] == "response":
            peeled = response_payload(rec)
            if peeled is None:
                return None
            msg, body = peeled
            if msg is not None:
                status_sum += msg["status"]
            res = extract_text(_body_text(body, msg))
            if res is None:
                return None
            n_words += sum(len(b.split(" ")) for b in res["blocks"])
    return {
        "n_records": n,
        "n_requests": n_req,
        "n_get": n_get,
        "n_post": n_post,
        "req_body_len": req_body_len,
        "status_sum": status_sum,
        "n_words": n_words,
    }


def _make_http_request(i: int) -> bytes:
    """Deterministic captured request: GET on even ids (bodyless),
    POST with an exact-Content-Length form body on odd ids. Every
    27th id declares the POST body a byte longer than it is; every
    21st id's request-line targets the NEXT doc's path (the
    mis-threaded-pair lie the URI cross-check must catch)."""
    target = f"/doc/{i + 1}" if i % 21 == 0 else f"/doc/{i}"
    head = [
        b"GET " + target.encode("ascii") + b" HTTP/1.1",
        b"Host: example.com",
        b"User-Agent: warcfix/1.0",
        b"Accept: text/html",
    ]
    body = b""
    if i % 2 == 1 or i % 27 == 0:
        body = f"q={i}".encode("ascii")
        head[0] = b"POST " + target.encode("ascii") + b" HTTP/1.1"
        lie = 1 if i % 27 == 0 else 0
        head.append(
            b"Content-Length: " + str(len(body) + lie).encode("ascii")
        )
    return _CRLF.join(head) + _CRLF + _CRLF + body


def _make_warc_reqresp_stream(i: int, text: str) -> bytes:
    """warcinfo + request + response — the real per-fetch capture
    triple. The response reuses the L236 HTTP fixture (framing
    variants + its 11/13/17 stripes); the request adds the 21/27
    stripes of _make_http_request."""
    from gmall_flink_210726_spark.operators.html import _make_html
    from gmall_flink_210726_spark.operators.inflate import _run_text

    info = make_warc_record("warcinfo", "", _run_text(i, 1, 64))
    uri = f"http://example.com/doc/{i}"
    req = make_warc_record(
        "request",
        uri,
        _make_http_request(i),
        ctype="application/http; msgtype=request",
    )
    page = _make_html(i, text).encode("latin-1")
    resp = make_warc_record(
        "response",
        uri,
        _make_http_response(i, page),
        ctype="application/http; msgtype=response",
    )
    return _gzip_member(info) + _gzip_member(req) + _gzip_member(resp)


def synthesize_warc_reqresp_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of request/response-pair .warc.gz blobs."""
    return synthesize_blobs(
        docs,
        _make_warc_reqresp_stream,
        blob_meta("warc"),
        partitions,
        ("doc_id", "text"),
    )


def warc_reqresp_stats(df: DataFrame) -> DataFrame:
    """Request/response pair walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, _walk_warc_reqresp, WARC_REQ_SCHEMA, "warc")


# --------------------------------------------------------------------------
# CDXJ random access — how CommonCrawl is ACTUALLY consumed at scale:
# nobody scans 100 TB of .warc.gz for one URL; the published cc-index
# (CDXJ: one line per capture, ``urlkey timestamp {json}`` sorted by
# urlkey, the JSON carrying filename/offset/length/digest) turns a
# URL lookup into ONE ranged fetch of ONE gzip member. The lookup
# here proves exactly that: bytes outside [offset, offset+length)
# are never touched (pinned by corrupting every other member), the
# fetched member must decompress to exactly one WARC record whose
# HTTP body's SHA-1 matches the index line's digest (base32, the
# WARC-Payload-Digest convention), and the index must be SORTED by
# urlkey (an unsorted index breaks the binary search every real
# client does — refuse).
# --------------------------------------------------------------------------

CDX_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_lines", LongType()),
        StructField("status", LongType()),
        StructField("title", StringType()),
        StructField("n_words", LongType()),
        StructField("digest_ok", LongType()),
    ]
)


def cdx_lookup(data: bytes, urlkey: str) -> dict | None:
    """Tar(index.cdxj, data.warc.gz) -> the ranged fetch + decode of
    ONE capture (section doc); None on any violation."""
    import base64
    import hashlib
    import json as _json

    from gmall_flink_210726_spark.operators.html import extract_text
    from gmall_flink_210726_spark.operators.httpmsg import (
        parse_http_response,
    )
    from gmall_flink_210726_spark.operators.wds import _iter_tar_members

    members = _iter_tar_members(data)
    if members is None:
        return None
    files = dict(members)
    idx = files.get("index.cdxj")
    warc = files.get("data.warc.gz")
    if idx is None or warc is None:
        return None
    lines = [ln for ln in idx.split(b"\n") if ln]
    parsed = []
    for ln in lines:
        parts = ln.split(b" ", 2)
        if len(parts) != 3:
            return None
        try:
            meta = _json.loads(parts[2].decode("utf-8"))
        except (ValueError, UnicodeDecodeError):
            return None
        parsed.append((parts[0].decode("latin-1"), meta))
    keys = [k for k, _ in parsed]
    if keys != sorted(keys):
        return None  # binary search demands a sorted index
    hit = next((m for k, m in parsed if k == urlkey), None)
    if hit is None:
        return None
    try:
        off = int(hit["offset"])
        length = int(hit["length"])
        digest = hit["digest"]
    except (KeyError, ValueError, TypeError):
        return None
    if off < 0 or length <= 0 or off + length > len(warc):
        return None
    # the RANGED fetch: exactly [off, off+length) — one gzip member
    member = warc[off : off + length]
    got = iter_gzip_members(member)
    if got is None or len(got) != 1:
        return None  # a desynced offset/length cannot frame cleanly
    rec = parse_warc_record(got[0][1])
    if rec is None or rec["type"] != "response":
        return None
    peeled = response_payload(rec)
    if peeled is None:
        return None
    msg, body = peeled
    if msg is None:
        return None
    sha = hashlib.sha1(body).digest()
    want = "sha1:" + base64.b32encode(sha).decode("ascii")
    if digest != want:
        return None  # the index lied about the payload
    res = extract_text(_body_text(body, msg))
    if res is None:
        return None
    return {
        "n_lines": len(lines),
        "status": msg["status"],
        "title": res["title"],
        "n_words": sum(len(b.split(" ")) for b in res["blocks"]),
        "digest_ok": 1,
    }


def cdx_lookup_stats(df: DataFrame, urlkey_fmt: str) -> DataFrame:
    """CDXJ ranged-fetch lookup over MEDIA_SCHEMA tar blobs; the
    probe urlkey is ``urlkey_fmt.format(i=media_id)``."""
    return blob_stats(
        df,
        lambda b, mid: cdx_lookup(b, urlkey_fmt.format(i=mid)),
        CDX_SCHEMA,
        "cdx",
        by_id=True,
    )


def _make_cdx_archive(i: int, text: str) -> bytes:
    """Tar(index.cdxj, data.warc.gz): ``2 + i % 3`` HTTP-bearing
    response records; the TARGET capture (urlkey
    ``com,example)/doc/{i}``) is record ``i % n``, the others are
    filler pages under different urlkeys. The cdxj carries true
    offset/length/digest per record, sorted by urlkey. Lie stripes:
    every 14th id's target offset is +1 (ranged fetch desyncs),
    every 16th-miss id's length is -1, every 18th-miss id's digest
    is cooked, every 21st-miss id's index lines are UNSORTED —
    each must degrade; corruption OUTSIDE the target's byte range is
    provably invisible (pinned in tests)."""
    import base64
    import hashlib
    import json as _json

    from gmall_flink_210726_spark.operators.html import _make_html

    n = 2 + i % 3
    tgt = i % n
    members = []
    offsets = []
    pos = 0
    for r in range(n):
        page = _make_html(i + 1000 * r, text).encode("utf-8")
        http = (
            b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: text/html; charset=utf-8\r\n"
            b"Content-Length: " + str(len(page)).encode() + b"\r\n\r\n"
            + page
        )
        rec = make_warc_record(
            "response",
            f"http://example.com/doc/{i}-{r}",
            http,
            ctype="application/http; msgtype=response",
        )
        member = _gzip_member(rec)
        members.append((r, member, page))
        offsets.append((pos, len(member)))
        pos += len(member)
    warc = b"".join(m for _, m, _ in members)
    lines = []
    for r, _m, page in members:
        key = (
            f"com,example)/doc/{i}"
            if r == tgt
            else f"com,example)/filler/{i}-{r:04d}"
        )
        off, length = offsets[r]
        digest = "sha1:" + base64.b32encode(
            hashlib.sha1(page).digest()
        ).decode("ascii")
        if r == tgt:
            if i % 14 == 0:
                off += 1
            elif i % 16 == 0:
                length -= 1
            elif i % 18 == 0:
                digest = digest[:-6] + "AAAAAA"
        lines.append(
            (
                key,
                f"{key} 20240101000000 "
                + _json.dumps(
                    {
                        "url": f"http://example.com/doc/{i}-{r}",
                        "filename": "data.warc.gz",
                        "offset": str(off),
                        "length": str(length),
                        "status": "200",
                        "digest": digest,
                    }
                ),
            )
        )
    lines.sort()
    if i % 21 == 0 and len(lines) >= 2 and i % 14 != 0 \
            and i % 16 != 0 and i % 18 != 0:
        lines[0], lines[1] = lines[1], lines[0]
    idx = ("\n".join(t for _, t in lines) + "\n").encode("utf-8")
    from gmall_flink_210726_spark.operators.tar import (
        _BLOCK,
        _make_header,
    )

    out = []
    for name, payload in (
        ("index.cdxj", idx),
        ("data.warc.gz", warc),
    ):
        pad = (-len(payload)) % _BLOCK
        out.append(
            _make_header(name, len(payload)) + payload + b"\x00" * pad
        )
    return b"".join(out) + b"\x00" * (2 * _BLOCK)


def synthesize_cdx_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of (index.cdxj, data.warc.gz) tars."""
    return synthesize_blobs(
        docs, _make_cdx_archive, blob_meta("warc"), partitions, ("doc_id", "text")
    )


# --------------------------------------------------------------------------
# Revisit records (ISO 28500 §6.7.2 / WARC 1.1 'revisit'): the crawl
# corpus's OWN dedup mechanism — a recrawl whose payload digest
# matches an earlier capture stores a headers-only revisit record
# with WARC-Refers-To + WARC-Payload-Digest instead of the body.
# --------------------------------------------------------------------------

_REVISIT_PROFILE = (
    b"http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
)


def _payload_digest(body: bytes) -> bytes:
    import base64
    import hashlib

    return b"sha1:" + base64.b32encode(hashlib.sha1(body).digest())


def _walk_warc_revisit(data: bytes) -> dict | None:
    """Gzip-membered WARC stream -> revisit-resolution stats: every
    response's declared WARC-Payload-Digest is re-proven against its
    actual content; every revisit must use the
    identical-payload-digest profile, refer (WARC-Refers-To) to an
    EARLIER response record in this file, and carry exactly that
    record's digest; saved_bytes counts the referenced bodies the
    revisits did not re-store. None on any violation — a dangling
    refers-to or a digest mismatch silently corrupts dedup."""
    members = iter_gzip_members(data)
    if members is None:
        return None
    n_records = n_responses = n_revisits = 0
    stored = saved = 0
    by_id: dict[bytes, tuple[bytes, int]] = {}  # id -> (digest, len)
    for _name, payload in members:
        rec = parse_warc_record(payload)
        if rec is None:
            return None
        n_records += 1
        f = rec["fields"]
        rid = f.get(b"warc-record-id", b"")
        if rec["type"] == "response":
            digest = f.get(b"warc-payload-digest")
            if digest is None:
                return None
            if digest != _payload_digest(rec["content"]):
                return None  # the declared digest must be true
            if not rid or rid in by_id:
                return None
            by_id[rid] = (digest, len(rec["content"]))
            n_responses += 1
            stored += len(rec["content"])
        elif rec["type"] == "revisit":
            if f.get(b"warc-profile") != _REVISIT_PROFILE:
                return None
            ref = f.get(b"warc-refers-to")
            digest = f.get(b"warc-payload-digest")
            if ref is None or digest is None:
                return None
            hit = by_id.get(ref)
            if hit is None:
                return None  # dangling or forward reference
            if digest != hit[0]:
                return None  # claims identical payload but is not
            if rec["content"]:
                return None  # headers-only by construction here
            n_revisits += 1
            saved += hit[1]
        elif rec["type"] != "warcinfo":
            return None
    if n_responses == 0:
        return None
    return {
        "n_records": n_records,
        "n_responses": n_responses,
        "n_revisits": n_revisits,
        "stored_bytes": stored,
        "saved_bytes": saved,
    }


REVISIT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_records", LongType()),
        StructField("n_responses", LongType()),
        StructField("n_revisits", LongType()),
        StructField("stored_bytes", LongType()),
        StructField("saved_bytes", LongType()),
    ]
)


def warc_revisit_stats(df: DataFrame) -> DataFrame:
    """Revisit-resolution walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, _walk_warc_revisit, REVISIT_SCHEMA, "warc")


def _rv_len(i: int, u: int) -> int:
    return 30 + (i * 7 + 11 * u) % 60


def _rv_count(i: int, u: int) -> int:
    return (i + u) % 3


def _make_warc_revisit_stream(i: int) -> bytes:
    """warcinfo + ``2 + i % 3`` unique responses (bare payloads,
    digests true) each followed by ``(i+u) % 3`` headers-only
    revisits referring back to it. Lies: every 13th id's last
    revisit refers to a record id that does not exist; every
    17th-miss id's last revisit carries a digest one capture off;
    every 19th-miss id's FIRST RESPONSE declares a wrong payload
    digest — all refuse."""
    nu = 2 + i % 3
    members = [
        _gzip_member(
            make_warc_record("warcinfo", "", b"software: fixture\r\n")
        )
    ]
    # the lie stripes ride the LAST response that actually has
    # revisits (two consecutive (i+u)%3 values cannot both be 0)
    last_u = max(u for u in range(nu) if _rv_count(i, u) > 0)
    for u in range(nu):
        body = bytes(
            97 + (i + u + k) % 26 for k in range(_rv_len(i, u))
        )
        digest = _payload_digest(body)
        if i % 19 == 0 and i % 13 != 0 and i % 17 != 0 and u == 0:
            digest = digest[:-1] + (
                b"A" if digest[-1:] != b"A" else b"B"
            )
        rid = f"urn:uuid:resp-{i}-{u}"
        members.append(
            _gzip_member(
                make_warc_record(
                    "response",
                    f"https://ex.com/{i}/{u}",
                    body,
                    record_id=rid,
                    extra_headers=[
                        b"WARC-Payload-Digest: " + digest
                    ],
                )
            )
        )
        for v in range(_rv_count(i, u)):
            ref = rid
            rdig = _payload_digest(body)
            if (
                i % 13 == 0
                and u == last_u
                and v == _rv_count(i, u) - 1
            ):
                ref = f"urn:uuid:ghost-{i}"
            if (
                i % 17 == 0
                and i % 13 != 0
                and u == last_u
                and v == _rv_count(i, u) - 1
            ):
                other = bytes(
                    97 + (i + u + 1 + k) % 26
                    for k in range(_rv_len(i, u))
                )
                rdig = _payload_digest(other)
            members.append(
                _gzip_member(
                    make_warc_record(
                        "revisit",
                        f"https://ex.com/{i}/{u}",
                        b"",
                        record_id=f"urn:uuid:rev-{i}-{u}-{v}",
                        extra_headers=[
                            b"WARC-Refers-To: <"
                            + ref.encode("ascii")
                            + b">",
                            b"WARC-Payload-Digest: " + rdig,
                            b"WARC-Profile: " + _REVISIT_PROFILE,
                        ],
                    )
                )
            )
    return b"".join(members)


def synthesize_warc_revisit_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of revisit-bearing WARC streams."""
    return synthesize_blobs(
        docs, _make_warc_revisit_stream, blob_meta("warc"), partitions
    )
