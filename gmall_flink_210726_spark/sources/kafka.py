"""Kafka record shapes — K1/K2 (SURVEY §2.2).

There is no Kafka broker or connector jar here, so the engine ships no
reader or writer; these record serializers are pure Column transforms
that produce exactly the ``key``/``value``/``topic`` columns Spark's
Kafka sink (`spark-sql-kafka-0-10`) consumes:

    (to_kafka_records(out).writeStream.format("kafka")
        .option("kafka.bootstrap.servers", "b:9092")
        .option("topic", "dwd_page_log")
        .option("checkpointLocation", ckpt).start())
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def to_kafka_records(df: DataFrame, key: Column | None = None) -> DataFrame:
    """K1 — serialize all columns to one JSON value (fixed topic set on
    the writer; util/MyKafkaUtil.java:21-23)."""
    cols = [F.to_json(F.struct(*df.columns)).alias("value")]
    if key is not None:
        cols.insert(0, key.cast("string").alias("key"))
    return df.select(*cols)


def to_kafka_dynamic(df: DataFrame, topic_col: str, value_col: str) -> DataFrame:
    """K2 — dynamic topic per row: the Kafka sink honors a `topic`
    column (util/MyKafkaUtil.java:25-30 + dwd/BaseDBApp.java:93-98
    route by the config's sinkTable)."""
    return df.select(
        F.col(topic_col).alias("topic"), F.col(value_col).cast("string").alias("value")
    )
