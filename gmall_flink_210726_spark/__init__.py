"""gmall_flink_210726_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the reference streaming warehouse
``2778500477/gmall-flink-210726`` (Flink 1.13 DataStream + Flink SQL),
built Spark-first: DataFrame / Spark SQL / Structured Streaming, with
Catalyst doing the optimization the reference hand-rolls.

Layout (maps to SURVEY.md §2 operator inventory):

- ``session``     — SparkSession factory tuned for local[N] and cluster.
- ``schemas``     — explicit StructTypes for every stream/table shape.
- ``sources/``    — batch + streaming sources (parquet, CDC envelope
                    reader ≈ ods/Flink_CDCWithCustomerSchema_Ods.java,
                    Kafka record shapes).
- ``functions/``  — shared scalar builders (F11, F12) + tokenizer UDTF (D1).
- ``operators/``  — generic DataFrame→DataFrame operators: parse (P1/P2),
                    transforms (P7), splits (R1/R2), routing (R3),
                    unions (U1), joins (J1-J3), aggregations (A1-A6),
                    stateful batch-replay (T4-T6), plus the
                    LLM-data-pipeline extras (dedup/similarity/text).
- ``streaming/``  — Structured Streaming bindings of the same operators
                    (watermarks T1/T2, stream-stream interval joins,
                    applyInPandasWithState for T4/T5/T6, foreachBatch sinks).
- ``plans/``      — the reference's ten apps re-expressed as composable
                    plan functions (BaseLog, BaseDB, OrderWide, PaymentWide,
                    UniqueVisit, UserJumpDetail, VisitorStats, ProductStats,
                    ProvinceStats, KeywordStats) + ADS serving queries.
"""

__version__ = "0.1.0"

from pyspark import TaskContext as _TaskContext

# the first import in an executor Python worker (a task is running) stops
# every later task from re-reading each zip on the worker path, see
# session.ship_package; the driver process is left unpatched
if _TaskContext.get() is not None:
    from gmall_flink_210726_spark.session import revalidate_zips_by_stat

    revalidate_zips_by_stat()
