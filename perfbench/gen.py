"""Seeded input generator: the engine's ten tables, written as parquet.

Schemas, physical types and value domains follow the engine's reference
tables (one parquet file per table, TIMESTAMP(MICROS) without time zone,
snappy, one row group). Row counts scale with ``sf`` the same way the
reference tables do: TPC-H-ish tables linearly, ``embeddings`` with a
floor of 500 rows. The ``documents`` count is set on its own: the blob
decoders synthesize one blob per document, so it sets their work. Text is
drawn from the reference ``documents`` vocabulary; about 5% of the documents are near-duplicates of
an earlier one with a trailing ``dup`` token, as in the reference.

The same ``(seed, sf, documents)`` always gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gmall_flink_210726_spark.sources.batch import TABLES

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ORDER_STATUS = ("F", "O", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
RETURN_FLAGS = ("A", "N", "R")
LINE_STATUS = ("F", "O")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_WEIGHTS = (0.14, 0.412, 0.149, 0.149, 0.15)
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)  # fmt: skip
N_SOURCES = 20
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_ORDER_DAY0 = dt.datetime(1995, 1, 1)
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - _ORDER_DAY0).days + 1
_SHIP_DAY0 = dt.datetime(1995, 1, 2)
_SHIP_DAYS = (dt.datetime(2001, 11, 4) - _SHIP_DAY0).days + 1
_EVENT_T0 = dt.datetime(2024, 1, 1)
_EVENT_SPAN_US = 30 * _US_PER_DAY


def row_counts(sf: float, documents: int) -> dict[str, int]:
    return {
        "region": len(REGIONS),
        "nation": 25,
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": documents,
        "embeddings": max(500, round(20_000 * sf)),
    }


def _pick(rng: np.random.Generator, values: tuple, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, day0: dt.datetime, n_days: int, n: int) -> pa.Array:
    base = int((day0 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    us = base + rng.integers(0, n_days, n) * _US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, p=LANG_WEIGHTS),
            "source": pa.array([f"src{i % N_SOURCES}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vec = rng.standard_normal((n, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vec.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def build_tables(seed: int, sf: float, documents: int) -> dict[str, pa.Table]:
    """Every table for one seed; one independent stream per table, so a
    table's contents do not depend on the order they are built in."""
    n = row_counts(sf, documents)
    rngs = dict(zip(TABLES, (np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(len(TABLES)))))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(len(REGIONS)), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
            "n_regionkey": pa.array([k % len(REGIONS) for k in range(25)], pa.int32()),
        }
    )
    r, k = rngs["customer"], n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(k, dtype=np.int64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)]),
            "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, k),
            "c_mktsegment": _pick(r, SEGMENTS, k),
        }
    )
    r, k = rngs["supplier"], n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(k, dtype=np.int64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)]),
            "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, k),
        }
    )
    r, k = rngs["part"], n["part"]
    keys = np.arange(k, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k)]),
            "p_type": _pick(r, PART_TYPES, k),
            "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )
    r, k = rngs["orders"], n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(k, dtype=np.int64),
            "o_custkey": r.integers(0, n["customer"], k, dtype=np.int64),
            "o_orderstatus": _pick(r, ORDER_STATUS, k),
            "o_totalprice": _money(r, 1000.0, 500_000.0, k),
            "o_orderdate": _days(r, _ORDER_DAY0, _ORDER_DAYS, k),
            "o_orderpriority": _pick(r, PRIORITIES, k),
        }
    )
    r, k = rngs["lineitem"], n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, n["orders"], k, dtype=np.int64),
            "l_partkey": r.integers(0, n["part"], k, dtype=np.int64),
            "l_suppkey": r.integers(0, n["supplier"], k, dtype=np.int64),
            "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
            "l_quantity": r.integers(1, 51, k).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, k),
            "l_discount": np.round(r.uniform(0.0, 0.1, k), 2),
            "l_tax": np.round(r.uniform(0.0, 0.08, k), 2),
            "l_returnflag": _pick(r, RETURN_FLAGS, k),
            "l_linestatus": _pick(r, LINE_STATUS, k),
            "l_shipdate": _days(r, _SHIP_DAY0, _SHIP_DAYS, k),
        }
    )
    r, k = rngs["events"], n["events"]
    t0 = int((_EVENT_T0 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts = t0 + np.sort(r.choice(_EVENT_SPAN_US, k, replace=False))
    t["events"] = pa.table(
        {
            "event_id": np.arange(k, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": r.integers(0, max(1, round(15_000 * sf)), k, dtype=np.int64),
            "event_type": _pick(r, EVENT_TYPES, k),
            "value": np.round(r.exponential(50.0, k), 2),
            "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)]),
        }
    )
    t["documents"] = _documents(rngs["documents"], n["documents"])
    t["embeddings"] = _embeddings(rngs["embeddings"], n["embeddings"])
    return t


def generate(root: str, seed: int, sf: float, documents: int) -> str:
    """Write the tables for ``(seed, sf, documents)`` under ``root`` once
    and return their directory; later calls with the same arguments reuse
    it."""
    out = os.path.join(root, f"seed{seed}_sf{sf:g}_docs{documents}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(seed, sf, documents).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, out)
    return out
