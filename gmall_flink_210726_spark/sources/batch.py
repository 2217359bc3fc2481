"""Batch sources: the driver's TPC-H-ish parquet tables.

The reference consumes Kafka topics (util/MyKafkaUtil.java:32-37); the
batch-replay mode of this engine treats a directory of parquet files as
the replayed topic. Parquet scans get predicate pushdown + column
pruning from Catalyst for free — the reference's manual column pruning
(func/TableProcessFunction.java:71-77) is subsumed for these paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Driver-generated tables (TESTDATA.md). One parquet file per table.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Timestamp normalization — the driver has generated testdata with
    # two different physical types across rounds, and externally-built
    # driver sessions don't carry our session defaults, so both confs
    # are (re-)set imperatively BEFORE the read is planned:
    #  - TIMESTAMP(NANOS) (rounds 1-2): Spark rejects it outright unless
    #    nanosAsLong reads it as epoch-nanos bigint; DIV converts in
    #    exact integer arithmetic below.
    #  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 3+): would
    #    infer TIMESTAMP_NTZ, breaking unix_micros()/window(); with
    #    inference off it reads as TimestampType UTC instants, which is
    #    also what the UTC-naive DuckDB oracle computes on under the
    #    UTC session timezone.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass  # unknown conf on some build: NTZ cast fallback below
    df = spark.read.parquet(path)
    for col, dtype in df.dtypes:
        if name == "events" and col == "ts" and dtype == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the spark.sql surface,
    ≈ the reference's Flink SQL DDL at util/MyKafkaUtil.java:40-48)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
