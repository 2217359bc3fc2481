"""Batch sources: the driver's TPC-H-ish parquet tables.

The reference consumes Kafka topics (util/MyKafkaUtil.java:32-37); the
batch-replay mode of this engine treats a directory of parquet files as
the replayed topic. Parquet scans get predicate pushdown + column
pruning from Catalyst for free — the reference's manual column pruning
(func/TableProcessFunction.java:71-77) is subsumed for these paths.

Like a file source with a declared schema, ``load_table`` infers a
table's parquet schema once per file and reads every later call through
``spark.read.schema(...)``, so building a query runs no Spark job. The
memo is keyed on the file's identity (path, size, mtime in ns): a file
rewritten in place gets a new key and is inferred again. The two
timestamp confs that shape inference are not in the key, because
``load_table`` sets both to constants before every read; so the memo
holds under any session, ours or a vanilla one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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

# (path, st_size, st_mtime_ns) -> the schema Spark inferred for that file.
# Two threads that miss on one key both infer and store the same schema,
# so the dict needs no lock.
_SCHEMAS: dict[tuple[str, int, int], StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``sf_dir/name.parquet`` with the timestamp normalization
    below. The first call for a file version infers its schema (one
    Spark job); later calls take it from ``_SCHEMAS`` and run none."""
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
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    st = os.stat(path)
    key = (path, st.st_size, st.st_mtime_ns)
    if key not in _SCHEMAS:
        _SCHEMAS[key] = spark.read.parquet(path).schema
    df = spark.read.schema(_SCHEMAS[key]).parquet(path)
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
