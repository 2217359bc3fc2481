"""HTML -> text extraction — the step every web-scale corpus runs
BEFORE any text operator fires (C4 extracts text from CommonCrawl HTML
before its line rules; Raffel et al. 2020 §2.2).

A real tag-grammar walk, not a regex strip:

- **raw-text elements** (``<script>``, ``<style>``) swallow everything
  up to their literal closing tag — their bodies legally contain ``<``,
  ``>`` and fake markup (``"<p>not text</p>"`` inside a JS string), so
  a next-``<`` scanner corrupts the corpus;
- **comments** (``<!-- ... -->``) drop whole, including any markup
  inside them;
- **tags are scanned quote-aware**: a ``>`` inside a quoted attribute
  value (``title="a>b"``) does NOT close the tag;
- **block vs inline**: block-level tags (``p div h1..h6 li ul ol br
  table tr td th blockquote pre section article header footer``) cut
  text-block boundaries; inline tags (``b i em strong span a code``)
  vanish without splitting;
- **entities** decode after tag removal: the named core set plus
  numeric ``&#NN;`` / ``&#xHH;`` forms; an unrecognized ``&`` passes
  through literally (HTML5 tolerance);
- whitespace inside a block collapses to single spaces, empty blocks
  drop, ``<title>`` text is captured separately as document metadata.

Malformed-markup contract (same corrupt-stripe discipline as every
decoder in the package): an unterminated comment, raw-text element, or
tag at EOF degrades the row to ``format='unknown'`` — never a throw,
never a partial row.

Scale notes: extraction is an Arrow-batched ``mapInPandas`` — pure
map, zero shuffle, corpus bodies never leave their input partition;
the per-doc output is the extracted text plus integer stats.

Reference parity anchor: the reference's ODS layer parses raw collected
payloads before any DWD logic (gmall-logger -> ods_base_log in
gmall-realtime/src/main/java/com/guohaoyu/ods; its payloads are JSON —
HTML is the corresponding raw form for web-corpus ingestion).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import blob_stats, map_pandas

_BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li ul ol br hr table tr td th blockquote
    pre section article header footer nav main form body html head
    title""".split()
)
_RAW_TEXT = frozenset({"script", "style"})
_INLINE_OK = frozenset(
    {"b", "i", "em", "strong", "span", "a", "code", "u", "small", "sub",
     "sup", "mark", "abbr"}
)
_ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "nbsp": " ",
}


def _tag_name(tag_body: str) -> str:
    """``'div class="x"'`` -> ``'div'``; ``'/DIV'`` -> ``'div'``;
    trailing ``/`` of self-closing tags ignored."""
    s = tag_body[1:] if tag_body.startswith("/") else tag_body
    out = []
    for ch in s:
        if ch.isspace() or ch == "/":
            break
        out.append(ch)
    return "".join(out).lower()


def extract_text(html: str) -> dict | None:
    """Walk the markup grammar; return ``{'title': str, 'blocks':
    [str]}`` or ``None`` on malformed input (module doc contract)."""
    i, n = 0, len(html)
    blocks: list[str] = []
    cur: list[str] = []
    title_chars: list[str] = []
    in_title = False

    def flush() -> None:
        s = " ".join("".join(cur).split())
        if s:
            blocks.append(s)
        cur.clear()

    lower = html.lower()
    while i < n:
        c = html[i]
        if c == "<":
            if html.startswith("<!--", i):
                j = html.find("-->", i + 4)
                if j < 0:
                    return None  # unterminated comment
                i = j + 3
                continue
            # quote-aware scan for the tag's closing '>'
            j = i + 1
            quote = None
            while j < n:
                ch = html[j]
                if quote is not None:
                    if ch == quote:
                        quote = None
                elif ch in "\"'":
                    quote = ch
                elif ch == ">":
                    break
                j += 1
            if j >= n:
                return None  # unterminated tag
            tag_body = html[i + 1 : j]
            i = j + 1
            if not tag_body or tag_body[0] == "!":
                continue  # doctype / empty
            closing = tag_body.startswith("/")
            name = _tag_name(tag_body)
            if not closing and name in _RAW_TEXT:
                # the char after the name must end the tag name —
                # '</scripts>' is NOT the closer of <script>
                end = lower.find("</" + name, i)
                while end >= 0:
                    after = end + 2 + len(name)
                    if after >= n or lower[after] in ">/ \t\n\r\f":
                        break
                    end = lower.find("</" + name, end + 2)
                if end < 0:
                    return None  # unterminated raw-text element
                gt = html.find(">", end)
                if gt < 0:
                    return None
                i = gt + 1
                continue
            if name == "title":
                flush()
                in_title = not closing
                continue
            if name in _BLOCK_TAGS:
                flush()
            # inline / unknown tags: removed without a block boundary
        elif c == "&":
            j = html.find(";", i + 1, i + 12)
            decoded = None
            if j > 0:
                ent = html[i + 1 : j]
                if ent[:2] in ("#x", "#X"):
                    try:
                        decoded = chr(int(ent[2:], 16))
                    except (ValueError, OverflowError):
                        decoded = None
                elif ent.startswith("#"):
                    try:
                        decoded = chr(int(ent[1:]))
                    except (ValueError, OverflowError):
                        decoded = None
                else:
                    decoded = _ENTITIES.get(ent)
            if decoded is not None:
                (title_chars if in_title else cur).append(decoded)
                i = j + 1
            else:
                (title_chars if in_title else cur).append("&")
                i += 1
        else:
            (title_chars if in_title else cur).append(c)
            i += 1
    if in_title:
        return None  # unterminated <title>
    flush()
    title = " ".join("".join(title_chars).split())
    return {"title": title, "blocks": blocks}


HTML_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("format", StringType()),
        StructField("title", StringType()),
        StructField("n_blocks", LongType()),
        StructField("body_text", StringType()),
    ]
)


def _extract_walk(markup: str) -> dict | None:
    res = extract_text(markup or "")
    if res is None:
        return None
    return dict(
        title=res["title"],
        n_blocks=len(res["blocks"]),
        body_text="\n".join(res["blocks"]),
    )


def html_extract(df: DataFrame) -> DataFrame:
    """Arrow-batched extraction over ``(doc_id, html)`` rows — pure
    map stage, zero shuffle (module doc)."""
    return blob_stats(df, _extract_walk, HTML_SCHEMA, "html", cols=("doc_id", "html"))


# --------------------------------------------------------------------------
# Fixture synthesis: deterministic HTML around each document's text so
# a blind oracle reconstructs the EXACT extracted output from the
# parquet columns (the established media-fixture pattern).
# --------------------------------------------------------------------------


def _make_html(i: int, text: str) -> str:
    """Deterministic page: head with style+script traps, comment with
    fake markup, h1, the doc text split into a <p> first half (one
    word bold-wrapped) and a <div> second half (uppercase tag on odd
    ids), ``1 + i % 3`` list items, and an entity+anchor paragraph
    whose anchor carries a quoted ``>``. Every 11th id drops the
    script's closing tag (the unclosed-script swallow — the classic
    real-world malformed page) and must degrade."""
    ws = text.split(" ")
    h = len(ws) // 2
    p1w, p2w = ws[:h], ws[h:]
    if len(p1w) >= 2:
        p1 = (
            p1w[0] + " <b>" + p1w[1] + "</b> " + " ".join(p1w[2:])
        ).rstrip()
    else:
        p1 = " ".join(p1w)
    p2 = " ".join(p2w)
    div_open = (
        f'<DIV CLASS="c{i % 4}">' if i % 2 else f'<div class="c{i % 4}">'
    )
    lis = "".join(f"<li>item {i} {j}</li>" for j in range(1 + i % 3))
    script_close = "" if i % 11 == 0 else "</script>"
    return (
        "<!DOCTYPE html>\n"
        f"<html><head><title>Doc {i}</title>\n"
        "<style>body { color: #123; } .x > .y { margin: 0; }</style>\n"
        '<script>if (1 < 2 && 2 > 1) { var s = "<p>not text</p>"; }'
        f"{script_close}\n"
        "</head>\n<body>\n"
        f"<!-- synthetic doc {i} <p>ignored</p> -->\n"
        f"<h1>Heading {i}</h1>\n"
        f"<p>{p1}</p>\n"
        f"{div_open}{p2}</div>\n"
        f"<ul>{lis}</ul>\n"
        "<p>amp &amp; lt &lt; gt &gt; quote &quot; num &#65; hex "
        f'&#x42; <a href="/d/{i}" title="a>b">link {i}</a> end</p>\n'
        "</body></html>\n"
    )


def synthesize_html_docs(docs: DataFrame) -> DataFrame:
    """``(doc_id, html)`` fixture table from the documents corpus."""
    from gmall_flink_210726_spark.session import ensure_parallelism

    docs = ensure_parallelism(docs.select("doc_id", "text"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "html": [
                        _make_html(int(i), t)
                        for i, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    return map_pandas(docs, gen, "doc_id long, html string")
