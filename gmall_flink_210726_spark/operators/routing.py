"""Config-driven dynamic routing — R3/K2/K5 (SURVEY §2.4).

The reference broadcasts a CDC-fed ``table_process`` config stream and,
per record, decides the sink kind (kafka topic vs hbase dim table),
target name, and column projection (func/TableProcessFunction.java:48-69,
dwd/BaseDBApp.java:75-98).

Spark-first: the config is a small DataFrame. ``route_with_config``
broadcast-joins data to config on (table, type); rows keep a
``sink_table``/``sink_type`` column. This is the shape used when all
routes land in one partitioned sink (e.g. one Kafka write with a per-row
topic column ≈ K2, or a ``partitionBy("sink_table")`` file write).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RouteRule:
    """One row of table_process (bean/TableProcess.java:12-24)."""

    source_table: str
    operate_type: str
    sink_type: str  # 'kafka' | 'hbase'
    sink_table: str
    sink_columns: str  # CSV projection list
    sink_pk: str = "id"
    sink_extend: str = ""


_CONFIG_COLS = (
    "source_table",
    "operate_type",
    "sink_type",
    "sink_table",
    "sink_columns",
    "sink_pk",
    "sink_extend",
)


def config_df(spark, rules: list[RouteRule]) -> DataFrame:
    """Constant config table as a JVM LocalRelation via a SQL ``VALUES``
    literal — ``createDataFrame`` over local Python rows would back the
    scan with a Python RDD (and schema inference runs a 32-task job on
    first touch); a VALUES literal is a metadata-only LocalTableScan."""
    if not rules:
        ddl = ", ".join(f"{c} string" for c in _CONFIG_COLS)
        return spark.createDataFrame([], ddl)
    # escape backslash FIRST (Spark SQL string literals treat \ as an
    # escape even inside '' — a regex or Windows path in sink_extend
    # must round-trip), then single quotes
    lit = (  # noqa: E731
        lambda v: "'"
        + str(v).replace("\\", "\\\\").replace("'", "''")
        + "'"
    )
    rows = ", ".join(
        "(" + ", ".join(lit(getattr(r, c)) for c in _CONFIG_COLS) + ")"
        for r in rules
    )
    return spark.sql(
        f"SELECT * FROM (VALUES {rows}) AS t({', '.join(_CONFIG_COLS)})"
    )


def route_with_config(
    data: DataFrame,
    config: DataFrame,
    table_col: str,
    type_col: str,
) -> DataFrame:
    """Relational routing: inner broadcast join on (source_table,
    operate_type); unmatched rows drop, matching the reference's
    'no config ⇒ no sink' behavior (func/TableProcessFunction.java:64-68)."""
    cond = (F.col(table_col) == F.col("source_table")) & (
        F.col(type_col) == F.col("operate_type")
    )
    return data.join(F.broadcast(config), cond, "inner")
