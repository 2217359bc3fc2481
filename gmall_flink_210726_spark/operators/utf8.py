"""Strict UTF-8 validation (RFC 3629) — the very first byte-level
step of every text pipeline: before language ID, quality scores, or
tokenization can run, raw crawl bytes must be proven valid UTF-8, and
the classic decoder bugs (accepting overlong encodings, surrogate
code points, or > U+10FFFF sequences) are SECURITY bugs, not just
correctness bugs (overlongs smuggle '/' and NUL past filters).

The validator is a from-scratch byte walk with the full RFC 3629
table semantics:

- 1-byte ``0xxxxxxx``; 2-byte ``110xxxxx`` requires cp >= 0x80
  (overlong rejection); 3-byte requires cp >= 0x800 AND not a
  surrogate (0xD800-0xDFFF); 4-byte requires 0x10000 <= cp <=
  0x10FFFF;
- every continuation byte must be ``10xxxxxx``; truncated sequences
  at EOF reject;
- 0xC0/0xC1/0xF5-0xFF can never appear (implied by the checks).

Output counts per class (ASCII / 2 / 3 / 4-byte code points) prove
the walker classified every sequence, not just skipped bytes.
Agreement with Python's own strict codec is unit-pinned. Arrow-
batched ``mapInPandas``, zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import (
    blob_meta,
    blob_stats,
    synthesize_blobs,
)


def utf8_classify(data: bytes) -> dict | None:
    """Strict decode -> per-class code-point counts, or None on any
    RFC 3629 violation."""
    n1 = n2 = n3 = n4 = 0
    i, n = 0, len(data)
    while i < n:
        b0 = data[i]
        if b0 < 0x80:
            n1 += 1
            i += 1
            continue
        if 0xC2 <= b0 <= 0xDF:
            need, lo, hi, cls = 1, 0x80, 0x7FF, 2
        elif 0xE0 <= b0 <= 0xEF:
            need, lo, hi, cls = 2, 0x800, 0xFFFF, 3
        elif 0xF0 <= b0 <= 0xF4:
            need, lo, hi, cls = 3, 0x10000, 0x10FFFF, 4
        else:
            return None  # 0x80-0xC1 lead or 0xF5-0xFF
        if i + need >= n:
            return None  # truncated sequence at EOF
        cp = b0 & (0x7F >> (need + 1))
        for k in range(1, need + 1):
            bk = data[i + k]
            if bk & 0xC0 != 0x80:
                return None  # bad continuation
            cp = (cp << 6) | (bk & 0x3F)
        if not lo <= cp <= hi:
            return None  # overlong or out of range
        if 0xD800 <= cp <= 0xDFFF:
            return None  # surrogate
        if cls == 2:
            n2 += 1
        elif cls == 3:
            n3 += 1
        else:
            n4 += 1
        i += need + 1
    return {"n_ascii": n1, "n_2byte": n2, "n_3byte": n3, "n_4byte": n4}


UTF8_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_ascii", LongType()),
        StructField("n_2byte", LongType()),
        StructField("n_3byte", LongType()),
        StructField("n_4byte", LongType()),
    ]
)


def utf8_validate_stats(df: DataFrame) -> DataFrame:
    """Strict UTF-8 classification over MEDIA_SCHEMA blobs."""
    return blob_stats(df, utf8_classify, UTF8_SCHEMA, "utf8")


# --------------------------------------------------------------------------
# Fixture synthesis
# --------------------------------------------------------------------------

# four representatives, one per class (all formula-countable)
_CP1 = "a"          # U+0061
_CP2 = "é"     # U+00E9, 2 bytes
_CP3 = "中"     # U+4E2D, 3 bytes
_CP4 = "\U0001f600" # U+1F600, 4 bytes


def _make_utf8(i: int) -> bytes:
    """Deterministic mixed-class stream: position k (of ``40 + i %
    60``) carries class ``1 + (i * 3 + k) % 4``. Corrupt stripes hit
    three DIFFERENT decoder bugs: every 10th id embeds an OVERLONG
    '/' (C0 AF), every 10th+5 a SURROGATE (ED A0 80), every 10th+7 a
    truncated 4-byte lead at EOF."""
    n = 40 + i % 60
    reps = (_CP1, _CP2, _CP3, _CP4)
    s = "".join(reps[(i * 3 + k) % 4] for k in range(n))
    b = s.encode("utf-8")
    if i % 10 == 0:
        return b + b"\xc0\xaf"  # overlong solidus
    if i % 10 == 5:
        return b + b"\xed\xa0\x80"  # UTF-8-encoded surrogate D800
    if i % 10 == 7:
        return b + b"\xf0\x9f"  # truncated 4-byte sequence
    return b


def synthesize_utf8_media(docs: DataFrame) -> DataFrame:
    """MEDIA_SCHEMA table of UTF-8 byte streams."""
    return synthesize_blobs(docs, _make_utf8, blob_meta("utf8"))
