"""Joins — J1-J3 from SURVEY.md §2.6.

Three join shapes in the reference, all re-expressed declaratively:

- J1 interval join (dwm/OrderWideApp.java:87-97): Flink keyed two-sided
  buffered state → Spark equi-join + range predicate (batch) or
  watermarked stream-stream join (streaming/pipelines.py).
- J2 async dimension lookup (func/DimAsyncFunction.java:19-58 +
  Redis cache util/DimUtil.java:15-41 + thread pool): per-record remote
  RPC with caching → a set-oriented **broadcast hash join** per dim.
  One broadcast replaces the cache, the async pool, and the timeout
  machinery; freshness = micro-batch granularity.
- J3 broadcast config join (dwd/BaseDBApp.java:75-84): tiny config
  relation broadcast to every task → ``F.broadcast(config_df)`` join.

Scale note (100 TB): the fact side never moves for J2/J3 — broadcast
joins are map-side, no shuffle. J1 shuffles both sides once on the join
key; with skewed keys AQE skew-join splits oversized partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    lower_s: float,
    upper_s: float,
    how: str = "inner",
) -> DataFrame:
    """J1 — event-time interval join: rows pair when keys match and
    ``right_ts ∈ [left_ts + lower_s, left_ts + upper_s]`` (seconds;
    lower may be negative).

    Reference: order⋈detail ±5 s (dwm/OrderWideApp.java:91), payment⋈
    order [-15 s, 0] (dwm/PaymentWideApp.java:90). Catalyst plans the
    equi-part as a hash/sort-merge join and evaluates the range as a
    join-time residual condition, so only same-key pairs are ever
    materialized. The bound arithmetic stays in exact integer micros.
    """
    lhs, rhs = left.alias("l"), right.alias("r")
    l_us = F.expr(f"unix_micros(l.{left_ts})")
    r_us = F.expr(f"unix_micros(r.{right_ts})")
    cond = (
        (F.col(f"l.{left_key}") == F.col(f"r.{right_key}"))
        & (r_us >= l_us + F.lit(int(lower_s * 1_000_000)))
        & (r_us <= l_us + F.lit(int(upper_s * 1_000_000)))
    )
    return lhs.join(rhs, cond, how)


def enrich_dims(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, Column, Sequence[Column]]],
    how: str = "left",
) -> DataFrame:
    """J2 — chained star-schema dimension enrichment via broadcast joins.

    ``dims`` is a list of (dim_df, join_cond, projected_cols). Replaces
    the reference's chain of 5-6 AsyncDataStream lookups
    (dwm/OrderWideApp.java:100-195): each dim is broadcast once per
    batch instead of queried per record via Redis/Phoenix.
    """
    out = fact
    for dim_df, cond, cols in dims:
        out = out.join(F.broadcast(dim_df.select(*cols)), cond, how)
    return out


def range_join(
    points: DataFrame,
    ranges: DataFrame,
    point_col: str = "addr",
    lo_col: str = "lo",
    hi_col: str = "hi",
    granularity: int = 1 << 18,
) -> DataFrame:
    """Point-in-range join (``lo <= point < hi`` over half-open,
    non-overlapping or overlapping ranges) decomposed into an EQUI-join
    — the geo-IP / CIDR-block enrichment primitive Spark has no native
    operator for. A naive theta join (``ON p BETWEEN lo AND hi-1``)
    plans as BroadcastNestedLoopJoin: every point row is tested against
    every range — O(P×R) and a driver-killing broadcast once the range
    table outgrows a dim (real geo-IP tables run 10⁶+ blocks).

    Decomposition: the key space is tiled into fixed ``granularity``
    chunks; each range explodes into the chunks it covers
    (``floor(lo/g) .. floor((hi-1)/g)``, ~width/g + 1 rows), each point
    computes ONE chunk key, and the join becomes a hash equi-join on
    the chunk id followed by the residual range filter. Both shuffle
    legs carry bare integers; AQE broadcasts the exploded range side
    only if it measures small at runtime.

    Picking ``granularity``: fan-out per range is width/g + 1, and
    ranges sharing a chunk multiply the per-point probe fan-out — set g
    near the TYPICAL range width so both stay O(1). Degenerate guard:
    empty ranges (hi <= lo) are dropped, matching the BETWEEN
    semantics.

    Chunk ids use integer ``div``, not float division: float is exact
    only below 2^53, and a full 64-bit key domain (geo-IPv6 / hash
    keys) would silently land in the wrong chunk and drop matches.
    Keys are non-negative here, so ``div`` == floor-division.
    """
    g = int(granularity)
    chunked = ranges.filter(F.col(hi_col) > F.col(lo_col)).withColumn(
        "_chunk",
        F.explode(
            F.sequence(
                F.expr(f"{lo_col} div {g}").cast("long"),
                F.expr(f"({hi_col} - 1) div {g}").cast("long"),
            )
        ),
    )
    keyed = points.withColumn("_chunk", F.expr(f"{point_col} div {g}").cast("long"))
    return (
        keyed.join(chunked, "_chunk")
        .filter(
            (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
        )
        .drop("_chunk")
    )
