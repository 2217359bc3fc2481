"""Sitemap XML parsing (sitemaps.org protocol 0.9) — the fourth leg
of the crawl-governance front door next to robots.txt (RFC 9309),
URL canonicalization and IDN decode: sitemaps are how sites hand a
crawler their URL inventory, and CommonCrawl-scale pipelines consume
millions of them. The parser is a from-scratch strict subset of XML
1.0 sufficient for the protocol (and deliberately no more):

- optional ``<?xml ...?>`` declaration and comments;
- one root element, properly nested tags (mismatched or unclosed
  tags reject — a truncated sitemap must not half-parse), attributes
  tolerated and ignored (xmlns);
- text content with the five predefined entities plus decimal and
  hex character references (``&amp; &lt; &gt; &quot; &apos;
  &#N; &#xH;`` — undefined or malformed references reject);
- interpretation: ``urlset`` -> per-``url`` ``loc``/``priority``;
  ``sitemapindex`` -> per-``sitemap`` ``loc`` (index files chain to
  more sitemaps — a real crawler walks both).

Arrow-batched ``mapInPandas``, zero shuffle.
"""

from __future__ import annotations

_ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
}


def _decode_text(s: str) -> str:
    """Entity + character-reference decode; raises on malformed."""
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "<":
            raise ValueError("xml: raw '<' in text")
        if c != "&":
            out.append(c)
            i += 1
            continue
        j = s.find(";", i + 1)
        if j < 0 or j - i > 12:
            raise ValueError("xml: unterminated entity")
        name = s[i + 1 : j]
        if name.startswith("#x") or name.startswith("#X"):
            if not name[2:] or any(
                ch not in "0123456789abcdefABCDEF" for ch in name[2:]
            ):
                raise ValueError("xml: bad hex charref")
            cp = int(name[2:], 16)
        elif name.startswith("#"):
            if not name[1:].isdigit():
                raise ValueError("xml: bad charref")
            cp = int(name[1:])
        else:
            if name not in _ENTITIES:
                raise ValueError("xml: undefined entity")
            out.append(_ENTITIES[name])
            i = j + 1
            continue
        if not 0 < cp <= 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
            raise ValueError("xml: charref out of range")
        out.append(chr(cp))
        i = j + 1
    return "".join(out)


def parse_xml(doc: str):
    """Strict-subset parse -> (tag, children|text) tree. Children is
    a list of nodes; leaf text is a plain string."""
    i, n = 0, len(doc)

    def skip_misc(i: int) -> int:
        while True:
            while i < n and doc[i] in " \t\r\n":
                i += 1
            if doc.startswith("<?", i):
                j = doc.find("?>", i)
                if j < 0:
                    raise ValueError("xml: unterminated declaration")
                i = j + 2
            elif doc.startswith("<!--", i):
                j = doc.find("-->", i)
                if j < 0:
                    raise ValueError("xml: unterminated comment")
                i = j + 3
            else:
                return i

    def parse_element(i: int):
        if i >= n or doc[i] != "<":
            raise ValueError("xml: expected element")
        j = i + 1
        while j < n and doc[j] not in " \t\r\n>/":
            j += 1
        tag = doc[i + 1 : j]
        if not tag or tag[0] in "!?":
            raise ValueError("xml: bad tag")
        gt = doc.find(">", j)
        if gt < 0:
            raise ValueError("xml: unterminated tag")
        if doc[gt - 1] == "/":  # self-closing
            return (tag, []), gt + 1
        i = gt + 1
        children = []
        text_parts = []
        while True:
            if i >= n:
                raise ValueError("xml: unclosed element " + tag)
            if doc.startswith("</", i):
                close_gt = doc.find(">", i)
                if close_gt < 0:
                    raise ValueError("xml: unterminated close tag")
                if doc[i + 2 : close_gt].strip() != tag:
                    raise ValueError("xml: mismatched close tag")
                body: object
                if children:
                    if any(p.strip() for p in text_parts):
                        raise ValueError("xml: mixed content")
                    body = children
                else:
                    body = _decode_text("".join(text_parts))
                return (tag, body), close_gt + 1
            if doc.startswith("<!--", i):
                j = doc.find("-->", i)
                if j < 0:
                    raise ValueError("xml: unterminated comment")
                i = j + 3
                continue
            if doc[i] == "<":
                node, i = parse_element(i)
                children.append(node)
                continue
            j = doc.find("<", i)
            if j < 0:
                raise ValueError("xml: text past element")
            text_parts.append(doc[i:j])
            i = j
        # unreachable

    i = skip_misc(0)
    root, i = parse_element(i)
    i = skip_misc(i)
    if i != n:
        raise ValueError("xml: trailing content")
    return root


def parse_sitemap(doc: str) -> dict | None:
    """Protocol interpretation -> {'kind', 'n_entries',
    'loc_len_sum', 'pri_x10_sum'} or None."""
    try:
        tag, body = parse_xml(doc)
    except ValueError:
        return None
    if tag == "urlset":
        child_tag, loc_req = "url", True
    elif tag == "sitemapindex":
        child_tag, loc_req = "sitemap", False
    else:
        return None
    if isinstance(body, str):
        return None  # empty containers are not valid sitemaps
    n_entries = loc_len = pri = 0
    for ctag, cbody in body:
        if ctag != child_tag or isinstance(cbody, str):
            return None
        fields = {}
        for ftag, fbody in cbody:
            if not isinstance(fbody, str) or ftag in fields:
                return None
            fields[ftag] = fbody.strip()
        loc = fields.get("loc")
        if loc is None or not loc:
            return None
        n_entries += 1
        loc_len += len(loc)
        if "priority" in fields:
            p = fields["priority"]
            try:
                v = float(p)
            except ValueError:
                return None
            if not 0.0 <= v <= 1.0:
                return None
            pri += round(v * 10)
    return {
        "kind": tag,
        "n_entries": n_entries,
        "loc_len_sum": loc_len,
        "pri_x10_sum": pri,
    }


def sitemap_stats(docs, xml_col: str = "xml"):
    """Arrow-batched sitemap parse over (doc_id, xml) rows."""

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from gmall_flink_210726_spark.operators.multimodal import blob_stats

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("kind", StringType()),
            StructField("n_entries", LongType()),
            StructField("loc_len_sum", LongType()),
            StructField("pri_x10_sum", LongType()),
        ]
    )

    return blob_stats(
        docs,
        lambda xml: parse_sitemap(xml or ""),
        schema,
        "",
        defaults={"kind": "invalid"},
        cols=("doc_id", xml_col),
    )


def _make_sitemap(i: int) -> str:
    """Even ids: a urlset of ``1 + i % 5`` urls whose locs carry an
    ENTITY-ENCODED query (&amp;) and per-url priority ``0.(i+j)%10``;
    odd ids: a sitemapindex of ``1 + i % 3`` child sitemaps. Every
    7th id closes the root with the WRONG tag and must reject."""
    if i % 2 == 0:
        n = 1 + i % 5
        urls = "".join(
            f"<url><loc>https://example.com/p/{i}/{j}?x=1&amp;y=2"
            f"</loc><priority>0.{(i + j) % 10}</priority></url>"
            for j in range(n)
        )
        root = "urlset"
        body = urls
    else:
        n = 1 + i % 3
        body = "".join(
            f"<sitemap><loc>https://example.com/sm/{i}/{j}.xml"
            f"</loc></sitemap>"
            for j in range(n)
        )
        root = "sitemapindex"
    close = "wrongtag" if i % 7 == 0 else root
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        f'<{root} xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        f"{body}</{close}>"
    )


def synthesize_sitemaps(docs):
    """(doc_id, xml) fixture rows."""
    import pandas as pd

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from gmall_flink_210726_spark.operators.multimodal import map_pandas
    from gmall_flink_210726_spark.session import ensure_parallelism

    docs = ensure_parallelism(docs.select("doc_id"))
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("xml", StringType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "xml": [_make_sitemap(int(i)) for i in ids],
                }
            )

    return map_pandas(docs, gen, schema)
