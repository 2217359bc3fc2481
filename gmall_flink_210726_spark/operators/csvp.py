"""RFC 4180 CSV parsing — the tabular-ingestion grammar (a real
state machine, not ``split(',')``): quoted fields may contain commas,
CRLF row breaks, and doubled ``""`` escapes; a naive splitter silently
shears every one of them.

Spark ships a CSV reader; the point here is the same as every decoder
in the package — the grammar is executed from scratch and PROVEN
against a blind oracle, so the corpus-ingestion path doesn't rest on
'the library probably handled the weird rows':

- field state machine: unquoted (ends at ``,`` / row break; stray
  ``"`` is a grammar violation), quoted (``""`` -> literal quote,
  commas/newlines are data, closing quote must be followed by ``,``
  or a row break or EOF);
- rows end at CRLF or LF; the final row may omit the terminator;
- rectangularity: every record must have the header's field count;
- an unterminated quote at EOF degrades the whole blob.

Output stats prove the hard paths fired: embedded-newline and
literal-quote counts can only be right if quoting was honored.
Arrow-batched ``mapInPandas``, zero shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from gmall_flink_210726_spark.operators.multimodal import blob_stats, map_pandas


def parse_csv(text: str) -> list[list[str]] | None:
    """RFC 4180 state machine -> list of records, or None on any
    grammar violation (module doc)."""
    rows: list[list[str]] = []
    field: list[str] = []
    row: list[str] = []
    i, n = 0, len(text)
    in_quotes = False
    quoted_field = False

    def end_field() -> None:
        row.append("".join(field))
        field.clear()

    def end_row() -> None:
        end_field()
        rows.append(list(row))
        row.clear()

    while i < n:
        c = text[i]
        if in_quotes:
            if c == '"':
                if i + 1 < n and text[i + 1] == '"':
                    field.append('"')
                    i += 2
                    continue
                in_quotes = False
                i += 1
                # closing quote: only , CR LF or EOF may follow
                if i < n and text[i] not in (",", "\r", "\n"):
                    return None
                continue
            field.append(c)
            i += 1
            continue
        if c == '"':
            if field or quoted_field:
                return None  # quote inside an unquoted field
            in_quotes = True
            quoted_field = True
            i += 1
            continue
        if c == ",":
            end_field()
            quoted_field = False
            i += 1
            continue
        if c == "\r":
            if i + 1 >= n or text[i + 1] != "\n":
                return None  # bare CR
            end_row()
            quoted_field = False
            i += 2
            continue
        if c == "\n":
            end_row()
            quoted_field = False
            i += 1
            continue
        if quoted_field:
            return None  # data after a closing quote
        field.append(c)
        i += 1
    if in_quotes:
        return None  # unterminated quote at EOF
    if field or row or quoted_field:
        end_row()
    if not rows:
        return None
    width = len(rows[0])
    if any(len(r) != width for r in rows):
        return None  # ragged record
    return rows


CSV_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("format", StringType()),
        StructField("n_rows", LongType()),
        StructField("n_fields", LongType()),
        StructField("amt_sum", LongType()),
        StructField("note_newlines", LongType()),
        StructField("quote_chars", LongType()),
    ]
)


def _csv_stats(text: str) -> dict | None:
    rows = parse_csv(text)
    if rows is None or len(rows) < 2:
        return None
    header, body = rows[0], rows[1:]
    try:
        amt_idx = header.index("amt")
        note_idx = header.index("note")
    except ValueError:
        return None
    amt_sum = 0
    for r in body:
        if not r[amt_idx].isdigit():
            return None
        amt_sum += int(r[amt_idx])
    return {
        "n_rows": len(body),
        "n_fields": len(header),
        "amt_sum": amt_sum,
        "note_newlines": sum(r[note_idx].count("\n") for r in body),
        "quote_chars": sum(r[note_idx].count('"') for r in body),
    }


def csv_parse_stats(df: DataFrame) -> DataFrame:
    """RFC 4180 parse over ``(media_id, csv)`` rows."""
    return blob_stats(
        df, lambda t: _csv_stats(t or ""), CSV_SCHEMA, "csv", cols=("media_id", "csv")
    )


# --------------------------------------------------------------------------
# Fixture synthesis
# --------------------------------------------------------------------------


def _make_csv(i: int) -> str:
    """Header + ``5 + i % 10`` records; every record exercises an
    embedded comma, a doubled-quote escape, AND an embedded CRLF —
    the three shears a naive splitter takes. Every 13th id drops the
    closing quote of its last note (unterminated at EOF)."""
    n = 5 + i % 10
    lines = ["id,name,note,amt"]
    for r in range(n):
        amt = (i * 13 + 7 * r) % 1000
        name = f'"name, {i}_{r}"'
        note = f'"l1\r\nl2 ""q{r}"" end"'
        lines.append(f"{r},{name},{note},{amt}")
    csv = "\r\n".join(lines) + "\r\n"
    if i % 13 == 0:
        # cut the final closing quote (and everything after it)
        cut = csv.rindex('" end"')
        csv = csv[: cut + 5]
    return csv


def synthesize_csv_docs(docs: DataFrame) -> DataFrame:
    """``(media_id, csv)`` fixture table."""
    from gmall_flink_210726_spark.session import ensure_parallelism

    docs = ensure_parallelism(docs.select("doc_id"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "csv": [_make_csv(int(i)) for i in ids],
                }
            )

    return map_pandas(docs, gen, "media_id long, csv string")
