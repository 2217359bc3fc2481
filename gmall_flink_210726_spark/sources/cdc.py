"""CDC envelope source — S2 (SURVEY §2.1).

The reference uses Flink-CDC/Debezium with StartupOptions.initial():
a full MySQL snapshot followed by the binlog stream, rendered into the
{database, tableName, before, after, type} envelope by a custom
deserializer (ods/Flink_CDCWithCustomerSchema_Ods.java:50-124).

PySpark has no CDC connector; the engine ingests pre-rendered envelope
JSON (file dir or Kafka topic). The snapshot phase is a batch read
unioned ahead of the stream — same observable sequence as
StartupOptions.initial(), without double-counting (the snapshot dir and
stream dir are disjoint inputs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_210726_spark.schemas import CDC_ENVELOPE_SCHEMA


def read_cdc_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch-replay: a directory/file of envelope JSON lines."""
    return spark.read.schema(CDC_ENVELOPE_SCHEMA).json(path)


def parse_cdc_lines(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse envelope JSON out of a string column (Kafka-style value)."""
    return raw.select(
        F.from_json(F.col(value_col), CDC_ENVELOPE_SCHEMA).alias("e")
    ).select("e.*")


def snapshot_then_stream(snapshot: DataFrame, stream: DataFrame) -> DataFrame:
    """S2 initial() semantics: snapshot rows flagged as bootstrap
    inserts, then the live stream. Works because unionByName of a batch
    DF with a streaming DF is not allowed in Spark — callers run the
    snapshot through the same sink first, then start the stream; this
    helper exists for the batch-replay mode where both are batch."""
    snap = snapshot.withColumn("type", F.lit("bootstrap-insert"))
    return snap.unionByName(stream)
