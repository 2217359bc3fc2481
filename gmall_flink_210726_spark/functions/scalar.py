"""Scalar function layer — the shared F11/F12 builders (SURVEY.md §2.10).

The reference implements its scalars inline in Java
(util/DateTimeUtil.java, dwm/OrderWideApp.java:57-64, etc.). Most of
F1-F15 are single ``pyspark.sql.functions`` calls written inline where
a query needs them (``queries/gmall2.f_scalar_pack``); the ones shared
across queries live here as thin Column-level builders, so everything
stays JVM-side inside whole-stage codegen — no Python UDFs on the hot
path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DT_FMT = "yyyy-MM-dd HH:mm:ss"


def one_hot(cond: Column) -> Column:
    """F11 — conditional metric, e.g. appraise=='1201' ? 1 : 0
    (dws/ProductStatsApp.java:180)."""
    return F.when(cond, F.lit(1)).otherwise(F.lit(0))


def money(col: Column | str, precision: int = 18, scale: int = 6) -> Column:
    """F12 — BigDecimal-fidelity money column (SURVEY §7.4 risk 3).

    Aggregating doubles is order-dependent; casting to decimal before a
    sum makes the aggregate exact and engine-independent, which is what
    the oracle hash-compare requires. Scale 6: no IEEE double can sit
    exactly on a 1e-6 midpoint (the midpoint is not dyadic), so the
    double→decimal rounding is identical in every engine regardless of
    rounding mode.
    """
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def money_sum(col: Column | str, alias: str) -> Column:
    """Exact decimal sum surfaced as double (stable across engines).

    Accepts a raw double column OR an already-built double expression;
    per-row double arithmetic is IEEE-deterministic, the decimal cast
    makes the subsequent sum order-independent.
    """
    return F.sum(money(col)).cast("double").alias(alias)
