"""Inline data-URI extraction with a hand-written STRICT Base64
decoder — the multimodal sibling of the HTML front door: web corpora
carry images INLINE as ``<img src="data:image/bmp;base64,...">``, and
a crawler that only follows http(s) URLs silently drops them.

Two layers, both real:

- **Base64 (RFC 4648 §4, strict)**: alphabet validation, length must
  be a multiple of 4, at most two ``=`` pads and only at the end, and
  the unused low bits of the final quantum MUST be zero (the
  canonical-encoding check lenient decoders skip — a non-canonical
  tail means the bytes were tampered or truncated mid-character).
- **data-URI grammar (RFC 2397)**: ``data:[mediatype][;base64],data``
  scanned out of quoted attribute values; the mediatype routes the
  payload (``image/bmp`` -> the 24-bpp BMP header/extent validation
  used across the package; ``text/plain`` -> byte stats).

Corrupt-stripe contract: any invalid Base64 character, non-canonical
tail, or BMP extent mismatch degrades the row to
``format='unknown'``. Arrow-batched ``mapInPandas``, zero shuffle.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import blob_stats, map_pandas

_B64_ALPHABET = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
)
_B64_VAL = {c: k for k, c in enumerate(_B64_ALPHABET)}


def b64decode_strict(s: str) -> bytes:
    """RFC 4648 strict decode (module doc). Raises ValueError."""
    if len(s) % 4:
        raise ValueError("base64 length not a multiple of 4")
    if not s:
        return b""
    pad = 0
    if s.endswith("=="):
        pad = 2
    elif s.endswith("="):
        pad = 1
    body = s[: len(s) - pad]
    if "=" in body:
        raise ValueError("padding inside body")
    out = bytearray()
    acc = bits = 0
    for c in body:
        v = _B64_VAL.get(c)
        if v is None:
            raise ValueError("invalid base64 character")
        acc = (acc << 6) | v
        bits += 6
        if bits >= 8:
            bits -= 8
            out.append((acc >> bits) & 0xFF)
    # canonical-tail check: leftover bits must be zero
    if bits and acc & ((1 << bits) - 1):
        raise ValueError("non-canonical base64 tail")
    if pad and (bits == 0 or (pad == 2 and bits != 4) or (pad == 1 and bits != 2)):
        raise ValueError("padding does not match content")
    if not pad and bits:
        raise ValueError("missing padding")
    return bytes(out)


def scan_data_uris(html: str) -> list[tuple[str, str]] | None:
    """All ``data:`` URIs inside double-quoted attribute values, as
    ``(mediatype, base64_payload)``; None if a URI is not base64 or
    its quote never closes."""
    out: list[tuple[str, str]] = []
    i = 0
    while True:
        i = html.find('"data:', i)
        if i < 0:
            return out
        end = html.find('"', i + 1)
        if end < 0:
            return None
        uri = html[i + 1 : end]
        comma = uri.find(",")
        if comma < 0:
            return None
        head = uri[5:comma]
        if not head.endswith(";base64"):
            return None
        out.append((head[: -len(";base64")], uri[comma + 1 :]))
        i = end + 1


def _parse_bmp(b: bytes) -> tuple[int, int, int] | None:
    """24-bpp BITMAPINFOHEADER validation -> (w, h, payload_sum)."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    fsize, _r1, _r2, off = struct.unpack_from("<IHHI", b, 2)
    hdr, w, h, planes, bpp = struct.unpack_from("<IiiHH", b, 14)
    if hdr != 40 or planes != 1 or bpp != 24 or off != 54:
        return None
    if w <= 0 or h <= 0:
        return None
    row = (w * 3 + 3) // 4 * 4
    n = row * h
    if fsize != 54 + n or len(b) != 54 + n:
        return None
    return w, h, sum(b[54:])


DATAURI_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_uris", LongType()),
        StructField("img_w", LongType()),
        StructField("img_h", LongType()),
        StructField("img_payload_sum", LongType()),
        StructField("txt_sum", LongType()),
    ]
)


def _extract_one(html: str) -> dict | None:
    uris = scan_data_uris(html)
    if not uris:
        return None
    img_w = img_h = img_sum = txt_sum = 0
    for mediatype, payload in uris:
        try:
            raw = b64decode_strict(payload)
        except ValueError:
            return None
        if mediatype == "image/bmp":
            parsed = _parse_bmp(raw)
            if parsed is None:
                return None
            img_w, img_h, img_sum = parsed
        elif mediatype == "text/plain":
            txt_sum = sum(raw)
        else:
            return None
    return {
        "n_uris": len(uris),
        "img_w": img_w,
        "img_h": img_h,
        "img_payload_sum": img_sum,
        "txt_sum": txt_sum,
    }


def data_uri_image_stats(df: DataFrame) -> DataFrame:
    """Inline-image extraction over ``(media_id, html)`` rows."""
    return blob_stats(
        df,
        lambda t: _extract_one(t or ""),
        DATAURI_SCHEMA,
        "datauri",
        cols=("media_id", "html"),
    )


# --------------------------------------------------------------------------
# Fixture synthesis
# --------------------------------------------------------------------------


def _b64encode(raw: bytes) -> str:
    out = []
    for k in range(0, len(raw) - len(raw) % 3, 3):
        v = raw[k] << 16 | raw[k + 1] << 8 | raw[k + 2]
        out += [
            _B64_ALPHABET[v >> 18],
            _B64_ALPHABET[(v >> 12) & 63],
            _B64_ALPHABET[(v >> 6) & 63],
            _B64_ALPHABET[v & 63],
        ]
    rem = len(raw) % 3
    if rem == 1:
        v = raw[-1]
        out += [_B64_ALPHABET[v >> 2], _B64_ALPHABET[(v & 3) << 4], "=", "="]
    elif rem == 2:
        v = raw[-2] << 8 | raw[-1]
        out += [
            _B64_ALPHABET[v >> 10],
            _B64_ALPHABET[(v >> 4) & 63],
            _B64_ALPHABET[(v & 15) << 2],
            "=",
        ]
    return "".join(out)


def _make_datauri_page(i: int) -> str:
    """One inline BMP (the package's standard LCG BMP fixture) and one
    inline text/plain run-text blob, inside otherwise-normal markup.
    Every 8th id gets one base64 character replaced with '*' — an
    invalid-alphabet corruption the strict decoder must reject."""
    from gmall_flink_210726_spark.operators.inflate import _run_text
    from gmall_flink_210726_spark.operators.multimodal import _make_bmp

    img = _b64encode(_make_bmp(i))
    txt = _b64encode(_run_text(i, 1, 60 + i % 50))
    if i % 8 == 0:
        img = img[: len(img) // 2] + "*" + img[len(img) // 2 + 1 :]
    return (
        f"<html><body><h1>Doc {i}</h1>\n"
        f'<img alt="inline" src="data:image/bmp;base64,{img}">\n'
        f'<a download href="data:text/plain;base64,{txt}">blob</a>\n'
        "</body></html>\n"
    )


def synthesize_datauri_pages(docs: DataFrame) -> DataFrame:
    """``(media_id, html)`` fixture table of pages with inline data
    URIs."""
    from gmall_flink_210726_spark.session import ensure_parallelism

    docs = ensure_parallelism(docs.select("doc_id"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "html": [_make_datauri_page(int(i)) for i in ids],
                }
            )

    return map_pandas(docs, gen, "media_id long, html string")
