r"""Wikipedia-style multistream dump ingest — the classic LLM-corpus
front door: ``*-pages-articles-multistream.xml.bz2`` is a
concatenation of byte-aligned bzip2 streams (stream 0 carries the
site header, each later stream a batch of ``<page>`` elements so a
reader can seek straight to one batch), and the payload is
MediaWiki XML whose ``<text>`` bodies are wikitext that must be
stripped to plain prose before tokenization.

Composition of three from-scratch layers already in the repo's
idiom: the bzip2 decoder (``operators/bzip2.py``), the strict XML
subset parser (``operators/sitemap.py parse_xml``), and a
deterministic wikitext stripper (templates ``{{..}}`` with nesting,
``<ref>..</ref>`` bodies, ``[[target|label]]``/``[[target]]``
links, ``==`` heading markers and ``''``/``'''`` emphasis runs).

Scale note: one dump blob is one row; the decode chain is a pure
Arrow-batched map with zero shuffle, so 100 TB of dumps partition
by blob exactly like the WARC/WET/WAT front door.

Reference anchor: the gmall reference's ODS layer ingests raw logs
from Kafka (gmall-realtime/.../ods/Flink_CDCWithCustomerSchema_Ods
.java); this is the equivalent raw-ingest discipline for the
encyclopedia-dump corpus a training pipeline starts from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from gmall_flink_210726_spark.operators.bzip2 import (
    bz2_decompress_multistream,
)
from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)
from gmall_flink_210726_spark.operators.sitemap import parse_xml

# --------------------------------------------------------------------------
# wikitext -> plain prose
# --------------------------------------------------------------------------


def strip_wikitext(s: str) -> str:
    """Deterministic wikitext strip:

    - ``{{ ... }}`` templates removed, nesting-aware;
    - ``<ref ...> ... </ref>`` removed entirely;
    - ``[[target|label]]`` -> label, ``[[target]]`` -> target;
    - runs of 2+ ``=`` (heading markers) and 2+ ``'`` (bold/italic
      quoting) dropped, their inner text kept.

    Unterminated constructs raise — a dump page whose markup cannot
    be balanced degrades the whole blob rather than silently
    emitting half-stripped text.
    """
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if s.startswith("{{", i):
            depth = 1
            i += 2
            while i < n and depth:
                if s.startswith("{{", i):
                    depth += 1
                    i += 2
                elif s.startswith("}}", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            if depth:
                raise ValueError("wikitext: unbalanced template")
            continue
        if s.startswith("<ref", i):
            j = s.find("</ref>", i)
            if j < 0:
                raise ValueError("wikitext: unterminated ref")
            i = j + 6
            continue
        if s.startswith("[[", i):
            j = s.find("]]", i)
            if j < 0:
                raise ValueError("wikitext: unterminated link")
            body = s[i + 2 : j]
            out.append(body.rsplit("|", 1)[-1])
            i = j + 2
            continue
        if c in "='" and i + 1 < n and s[i + 1] == c:
            while i < n and s[i] == c:
                i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


# --------------------------------------------------------------------------
# the dump walk
# --------------------------------------------------------------------------


def _child_map(node) -> dict[str, object]:
    tag, body = node
    if not isinstance(body, list):
        raise ValueError("wikidump: expected element children")
    out = {}
    for ch in body:
        out[ch[0]] = ch[1]
    return out


def _text_of(v) -> str:
    if isinstance(v, str):
        return v
    if v == []:  # <tag></tag>
        return ""
    raise ValueError("wikidump: expected text leaf")


def read_wiki_dump(data: bytes) -> dict | None:
    """Multistream walk: stream 0 must be a well-formed
    ``<siteinfo>`` element with a non-empty ``<sitename>``; every
    later stream is a batch of complete ``<page>`` elements (the
    multistream seek unit). Each page must carry title / ns=0 / id /
    revision{id, text}; the text is wikitext, stripped to plain.
    Any bzip2 CRC or grammar violation, XML error, or unbalanced
    wikitext degrades the blob."""
    try:
        streams = bz2_decompress_multistream(data)
    except ValueError:
        return None
    if len(streams) < 2:
        return None
    try:
        site = parse_xml(streams[0].decode("utf-8"))
    except (ValueError, UnicodeDecodeError):
        return None
    if site[0] != "siteinfo":
        return None
    sm = _child_map(site)
    if "sitename" not in sm or not _text_of(sm["sitename"]):
        return None
    n_pages = id_sum = title_len = plain_len = 0
    links = templates = refs = 0
    for payload in streams[1:]:
        try:
            batch = parse_xml(
                "<pages>" + payload.decode("utf-8") + "</pages>"
            )
        except (ValueError, UnicodeDecodeError):
            return None
        tag, children = batch
        if tag != "pages" or not isinstance(children, list):
            return None
        if not children:
            return None  # an empty page batch is a framing bug
        for page in children:
            if page[0] != "page":
                return None
            pm = _child_map(page)
            try:
                title = _text_of(pm["title"])
                ns = _text_of(pm["ns"])
                pid = int(_text_of(pm["id"]))
                rev = _child_map(("revision", pm["revision"]))
                int(_text_of(rev["id"]))
                wikitext = _text_of(rev["text"])
            except (KeyError, ValueError, TypeError):
                return None
            if ns != "0":
                return None
            templates += wikitext.count("{{")
            refs += wikitext.count("<ref")
            links += wikitext.count("[[")
            try:
                plain = strip_wikitext(wikitext)
            except ValueError:
                return None
            n_pages += 1
            id_sum += pid
            title_len += len(title)
            plain_len += len(plain)
    return {
        "n_streams": len(streams),
        "n_pages": n_pages,
        "id_sum": id_sum,
        "title_len_sum": title_len,
        "plain_len_sum": plain_len,
        "link_count": links,
        "template_count": templates,
        "ref_count": refs,
    }


# --------------------------------------------------------------------------
# Spark plumbing
# --------------------------------------------------------------------------

WIKI_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_streams", LongType()),
        StructField("n_pages", LongType()),
        StructField("id_sum", LongType()),
        StructField("title_len_sum", LongType()),
        StructField("plain_len_sum", LongType()),
        StructField("link_count", LongType()),
        StructField("template_count", LongType()),
        StructField("ref_count", LongType()),
    ]
)


def wiki_dump_stats(df: DataFrame) -> DataFrame:
    """Multistream dump walk over MEDIA_SCHEMA blobs."""
    return blob_stats(df, read_wiki_dump, WIKI_SCHEMA, "wikidump")


# --------------------------------------------------------------------------
# fixtures
# --------------------------------------------------------------------------


def _xml_escape(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    )


def _page_xml(i: int, p: int) -> str:
    pid = 10 * i + p
    tnum = (7 * i + p) % 100
    r = 1 + (i + p) % 3
    wikitext = (
        "alpha beta " * r
        + "{{cite|T" + str(tnum) + "}}"
        + "[[X" + str(p) + "|lbl" + str((i + p) % 10) + "]]"
        + " "
        + "[[Bare" + str(i % 10) + "]]"
        + "==H" + str(p) + "=="
        + "<ref>junk" + str(i) + "</ref>"
        + "'''bold'''"
    )
    return (
        "<page><title>T" + str(tnum) + "</title><ns>0</ns>"
        "<id>" + str(pid) + "</id>"
        "<revision><id>" + str(pid + 1000) + "</id>"
        "<text>" + _xml_escape(wikitext) + "</text></revision></page>"
    )


def _make_wiki_dump(
    i: int, bad_stripe: int = 13, crc_stripe: int = 9
) -> bytes:
    """1 + i%4 pages over 1 + i%2 page-batch streams behind a
    siteinfo stream, each stream its own bz2 stream (level rotating
    1..9). Every 13th id flips a mid-blob byte (grammar/CRC must
    catch); every 9th flips a byte INSIDE the first block's stored
    CRC field (bytes 10..13 — structure decodes fine, only the CRC
    check catches it)."""
    import bz2 as _bz2

    np_ = 1 + i % 4
    two = i % 2 == 1
    pages = [_page_xml(i, p) for p in range(np_)]
    if two and np_ > 1:
        cut = (np_ + 1) // 2
        batches = ["".join(pages[:cut]), "".join(pages[cut:])]
    else:
        batches = ["".join(pages)]
    site = (
        "<siteinfo><sitename>W" + str(i % 50) + "</sitename>"
        "<dbname>db" + str(i % 20) + "</dbname></siteinfo>"
    )
    level = 1 + i % 9
    blob = bytearray()
    for payload in [site] + batches:
        blob += _bz2.compress(payload.encode("utf-8"), level)
    if i % bad_stripe == 0:
        blob[len(blob) // 2] ^= 0xFF
    elif i % crc_stripe == 0:
        blob[12] ^= 0x5A  # inside the first block's stored CRC
    return bytes(blob)


def synthesize_wiki_dump_media(
    docs: DataFrame, partitions: int | None = None
) -> DataFrame:
    """MEDIA_SCHEMA table of multistream wiki-dump blobs."""
    return synthesize_blobs(docs, _make_wiki_dump, blob_meta("wikidump"), partitions)
