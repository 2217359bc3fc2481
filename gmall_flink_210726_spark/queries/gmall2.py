"""Gmall operator-parity queries, wave 2 — transforms, splits, routing,
interval join, stateful batch-replay ops, tokenizer (SURVEY §2.3-2.11).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from gmall_flink_210726_spark.functions.scalar import money_sum, one_hot
from gmall_flink_210726_spark.functions.tokenizer import tokenize_col, tokenize_udf
from gmall_flink_210726_spark.operators.joins import interval_join
from gmall_flink_210726_spark.operators.parse import parse_json_column
from gmall_flink_210726_spark.operators.routing import RouteRule, config_df, route_with_config
from gmall_flink_210726_spark.operators.split import split_stream, union_by_name
from gmall_flink_210726_spark.operators.stateful import (
    daily_unique_visitors,
    detect_jumps,
    rewrite_is_new,
)
from gmall_flink_210726_spark.operators.transform import derive_datetime
from gmall_flink_210726_spark.registry import register
from gmall_flink_210726_spark.sources.batch import load_table


@register(
    "p1_json_props_parse",
    oracle="""
    SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k
    FROM events
    """,
    doc="P1/P2 — permissive JSON parse with dirty side output "
    "(dwd/BaseLogApp.java:51-63); good branch projected",
    tags=("gmall", "parse"),
)
def p1_json_props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    schema = StructType([StructField("k", LongType())])
    good, _dirty = parse_json_column(events, "props", schema)
    return good.select("event_id", "k")


@register(
    "p3_p5_filter_projection",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(props->>'$.k' AS BIGINT) AS k
    FROM events
    WHERE event_type <> 'error' AND CAST(props->>'$.k' AS BIGINT) > 50
    """,
    doc="P3/P4/P5/F10 — compound predicate filters + map-element access "
    "(dwd/BaseDBApp.java:55-60, dws/KeywordStatsApp.java:40-45, "
    "dws/ProductStatsApp.java:91-97)",
    tags=("gmall", "transform"),
)
def p3_p5_filter_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.withColumn("k", k)
        .filter((F.col("event_type") != "error") & (F.col("k") > 50))
        .select("event_id", "user_id", "event_type", "k")
    )


@register(
    "p7_derived_datetime_histogram",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS create_date,
           hour(ts) AS create_hour,
           COUNT(*) AS ct
    FROM events
    GROUP BY 1, 2
    """,
    doc="P7/F3 — derived date/hour columns from event time "
    "(dwm/OrderWideApp.java:57-64)",
    tags=("gmall", "transform"),
)
def p7_derived_datetime_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = derive_datetime(load_table(spark, sf_dir, "events"), "ts")
    return events.groupBy("create_date", "create_hour").agg(
        F.count(F.lit(1)).alias("ct")
    )


@register(
    "p9_coalesce_merge_enrich",
    oracle="""
    SELECT COALESCE(c_name, 'unknown') AS merged_name,
           COUNT(*) AS ev_ct,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val_sum
    FROM events LEFT JOIN customer ON user_id = c_custkey
    GROUP BY 1
    """,
    doc="P9 — wide-row merge with firstNonNull/coalesce semantics "
    "(bean/OrderWide.java:88-105)",
    tags=("gmall", "transform"),
)
def p9_coalesce_merge_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    merged = events.join(
        F.broadcast(customer.select("c_custkey", "c_name")),
        events.user_id == F.col("c_custkey"),
        "left",
    ).withColumn("merged_name", F.coalesce(F.col("c_name"), F.lit("unknown")))
    return merged.groupBy("merged_name").agg(
        F.count(F.lit(1)).alias("ev_ct"), money_sum("value", "val_sum")
    )


@register(
    "r1_split_union_counts",
    oracle="""
    SELECT CASE WHEN event_type = 'signup' THEN 'start'
                WHEN event_type = 'error'  THEN 'dirty'
                ELSE 'page' END AS branch,
           COUNT(*) AS ct,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS val_sum
    FROM events
    GROUP BY 1
    """,
    doc="R1/U1 — 3-way side-output split then union of homogeneous "
    "branches (dwd/BaseLogApp.java:97-131, dws/VisitorStatsApp.java:98)",
    tags=("gmall", "split"),
)
def r1_split_union_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    branches = split_stream(
        events,
        {
            "start": F.col("event_type") == "signup",
            "dirty": F.col("event_type") == "error",
            "page": ~F.col("event_type").isin("signup", "error"),
        },
    )
    tagged = [df.withColumn("branch", F.lit(name)) for name, df in branches.items()]
    return union_by_name(tagged).groupBy("branch").agg(
        F.count(F.lit(1)).alias("ct"), money_sum("value", "val_sum")
    )


@register(
    "r2_word_explode_count",
    oracle="""
    SELECT doc_id, COUNT(*) AS n_words
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY doc_id
    """,
    doc="R2 — array flatten carrying parent fields "
    "(dwd/BaseLogApp.java:113-125 display explode)",
    tags=("gmall", "split"),
)
def r2_word_explode_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    return words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))


_ROUTES = [
    RouteRule("purchase", "insert", "kafka", "dwd_order", "event_id,user_id,value"),
    RouteRule("click", "insert", "kafka", "dwd_click", "event_id,user_id"),
    RouteRule("view", "insert", "hbase", "dim_display", "event_id"),
]


@register(
    "r3_config_routing_counts",
    oracle="""
    SELECT c.sink_table, c.sink_type, COUNT(*) AS ct
    FROM events e
    JOIN (VALUES ('purchase', 'kafka', 'dwd_order'),
                 ('click',    'kafka', 'dwd_click'),
                 ('view',     'hbase', 'dim_display'))
         AS c(source_table, sink_type, sink_table)
      ON e.event_type = c.source_table
    GROUP BY 1, 2
    """,
    doc="R3/J3/K2 — config-broadcast dynamic routing: per-row sink table "
    "and type from the table_process analog (func/TableProcessFunction."
    "java:48-69, dwd/BaseDBApp.java:75-98)",
    tags=("gmall", "routing"),
)
def r3_config_routing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").withColumn("op", F.lit("insert"))
    config = config_df(spark, _ROUTES)
    routed = route_with_config(events, config, "event_type", "op")
    return routed.groupBy("sink_table", "sink_type").agg(F.count(F.lit(1)).alias("ct"))


@register(
    "j1_interval_join_purchase_views",
    oracle="""
    SELECT p.event_id AS purchase_id, COUNT(*) AS view_ct
    FROM events p
    JOIN events v
      ON p.user_id = v.user_id
     AND p.event_type = 'purchase' AND v.event_type = 'view'
     AND epoch_us(v.ts) >= epoch_us(p.ts) - 300000000
     AND epoch_us(v.ts) <= epoch_us(p.ts)
    GROUP BY 1
    """,
    doc="J1 — event-time interval join [-5 min, 0]: views preceding each "
    "purchase of the same user (dwm/PaymentWideApp.java:86-96 pattern)",
    tags=("gmall", "join", "bench"),
)
def j1_interval_join_purchase_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    views = events.filter(F.col("event_type") == "view")
    joined = interval_join(
        purchases, views, "user_id", "user_id", "ts", "ts", lower_s=-300, upper_s=0
    )
    return joined.groupBy(F.col("l.event_id").alias("purchase_id")).agg(
        F.count(F.lit(1)).alias("view_ct")
    )


@register(
    "a2_multikey_tumble1h",
    oracle="""
    SELECT strftime(make_timestamp((epoch_us(ts) // 3600000000) * 3600000000), '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(make_timestamp((epoch_us(ts) // 3600000000) * 3600000000 + 3600000000), '%Y-%m-%d %H:%M:%S') AS edt,
           event_type,
           user_id % 4 AS segment,
           COUNT(*) AS pv_ct,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS dur_sum
    FROM events
    GROUP BY 1, 2, 3, 4
    """,
    doc="A2 — multi-key (4-tuple analog) tumbling window reduce "
    "(dws/VisitorStatsApp.java:108-141 keyBy ar,ch,vc,is_new)",
    tags=("gmall", "agg"),
)
def a2_multikey_tumble1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.aggregations import window_agg

    events = load_table(spark, sf_dir, "events").withColumn(
        "segment", F.col("user_id") % 4
    )
    return window_agg(
        events,
        F.window("ts", "1 hour"),
        keys=["event_type", "segment"],
        aggs=[F.count(F.lit(1)).alias("pv_ct"), money_sum("value", "dur_sum")],
    )


@register(
    "a4_province_stats_analog",
    oracle="""
    SELECT n_name AS province_name,
           COUNT(DISTINCT o_custkey) AS buyer_ct,
           COUNT(*) AS order_count,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS order_amount
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="A4 — SQL windowed agg with COUNT(DISTINCT) by region key "
    "(dws/ProvinceStatsSqlApp.java:44-52)",
    tags=("gmall", "agg"),
)
def a4_province_stats_analog(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    wide = orders.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return wide.groupBy(F.col("n_name").alias("province_name")).agg(
        F.countDistinct("o_custkey").alias("buyer_ct"),
        F.count(F.lit(1)).alias("order_count"),
        money_sum("o_totalprice", "order_amount"),
    )


@register(
    "a5_keyword_stats",
    oracle="""
    SELECT word AS keyword, source, COUNT(*) AS ct
    FROM (SELECT source,
                 unnest(string_split_regex(lower(text), '[^0-9a-z一-鿿]+')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY 1, 2
    """,
    doc="A5/D1/P4 — keyword pipeline: tokenize (UDTF analog) + lateral "
    "explode + count (dws/KeywordStatsApp.java:47-61)",
    tags=("gmall", "agg", "bench"),
)
def a5_keyword_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(tokenize_col("text")).alias("keyword")
    )
    return words.groupBy("keyword", "source").agg(F.count(F.lit(1)).alias("ct"))


@register(
    "d1_tokenizer_udf_topwords",
    oracle="""
    SELECT word AS keyword, COUNT(*) AS ct
    FROM (SELECT unnest(string_split_regex(lower(text), '[^0-9a-z一-鿿]+')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY 1
    """,
    doc="D1 — Python tokenizer UDF (jieba when available, deterministic "
    "regex fallback ≈ func/SplitFunction.java:12-27 error path); Arrow-"
    "batched, exploded like LATERAL TABLE",
    tags=("gmall", "udf"),
)
def d1_tokenizer_udf_topwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.session import ship_package

    ship_package(spark)  # the UDF's module must be importable on workers
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokenize_udf(F.col("text"))).alias("keyword"))
    return words.groupBy("keyword").agg(F.count(F.lit(1)).alias("ct"))


# Chinese search-terms fixture — the driver's documents table is ASCII,
# so the reference's PRIMARY IK-analyzer input (Chinese keywords,
# func/SplitFunction.java:12-27) would otherwise never hit the
# correctness gate. Mixed-script terms pin the exact degradation
# contract: without a segmenter a contiguous CJK run stays ONE keyword
# (digits/latin glued to CJK stay in the same run — '2021款' is one
# token), and scripts split only at non-[0-9a-z一-鿿] separators.
_CJK_TERMS = (
    "小米手机",
    "苹果手机",
    "华为手机 价格",
    "pixel 手机壳",
    "小米手机",
    "电视机 lg 4k",
    "冰箱",
    "华为 mate40 手机",
    "2021款 小米手机",
    "图书 《三体》",
)
_CJK_VALUES = ", ".join(f"('{t}')" for t in _CJK_TERMS)


@register(
    "d1_tokenizer_cjk_keywords",
    oracle=f"""
    SELECT word AS keyword, COUNT(*) AS ct
    FROM (SELECT unnest(string_split_regex(lower(kw), '[^0-9a-z一-鿿]+')) AS word
          FROM (VALUES {_CJK_VALUES}) AS t(kw))
    WHERE word <> ''
    GROUP BY 1
    """,
    doc="D1 CJK fixture — Chinese search terms through the tokenizer + "
    "explode + count pipeline (the reference's IK-analyzer use case, "
    "func/SplitFunction.java:12-27). Pins contiguous-run segmentation "
    "(one CJK run = one keyword, '2021款' stays whole) and separator "
    "behavior for mixed-script terms; both sides build the fixture "
    "from the same VALUES literal, independent of the documents table",
    tags=("gmall", "udf", "cjk"),
)
def d1_tokenizer_cjk_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = spark.sql(f"SELECT * FROM (VALUES {_CJK_VALUES}) AS t(kw)")
    words = terms.select(F.explode(tokenize_col("kw")).alias("keyword"))
    return words.groupBy("keyword").agg(F.count(F.lit(1)).alias("ct"))


@register(
    "t5_daily_unique_visitors",
    oracle="""
    SELECT dt, COUNT(*) AS uv_ct,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS first_val_sum
    FROM (SELECT strftime(ts, '%Y-%m-%d') AS dt, value,
                 row_number() OVER (PARTITION BY user_id, strftime(ts, '%Y-%m-%d')
                                    ORDER BY ts, event_id) AS rn
          FROM events)
    WHERE rn = 1
    GROUP BY dt
    """,
    doc="T5 — stateful daily-UV dedup, batch-replay: first event per "
    "(mid, day) (dwm/UniqueVisitApp.java:50-92); streaming twin uses "
    "dropDuplicates + watermark",
    tags=("gmall", "stateful", "bench"),
)
def t5_daily_unique_visitors(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    firsts = daily_unique_visitors(events, "user_id", "ts", "event_id")
    return firsts.groupBy("dt").agg(
        F.count(F.lit(1)).alias("uv_ct"), money_sum("value", "first_val_sum")
    )


@register(
    "t6_is_new_rewrite_daily",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS dt,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS new_ct,
           COUNT(*) AS pv_ct
    FROM (SELECT ts,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
          FROM events)
    GROUP BY 1
    """,
    doc="T6 — stateful new-vs-returning rewrite, batch-replay "
    "(dwd/BaseLogApp.java:64-95): is_new=1 only on a mid's first-ever event",
    tags=("gmall", "stateful"),
)
def t6_is_new_rewrite_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    flagged = rewrite_is_new(events, "user_id", "ts", "event_id")
    return flagged.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("dt")).agg(
        F.sum("is_new").alias("new_ct"), F.count(F.lit(1)).alias("pv_ct")
    )


@register(
    "t4_jump_detection",
    oracle="""
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS entry_time,
           (next_us IS NULL OR next_us - us > 60000000) AS is_jump
    FROM (SELECT user_id, ts, epoch_us(ts) AS us,
                 lag(epoch_us(ts))  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us,
                 lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_us
          FROM events)
    WHERE prev_us IS NULL OR us - prev_us > 1800000000
    """,
    doc="T4/R4 — CEP bounce detection, batch-replay: session entries "
    "(gap > 30 min ≈ last_page_id IS NULL) that are followed by nothing "
    "within 60 s — reproduces both CEP branches (matched strict-next + "
    "timeout) of dwm/UserJumpDetailApp.java:65-96 in one pass",
    tags=("gmall", "stateful", "bench"),
)
def t4_jump_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    marked = detect_jumps(
        events, "user_id", "ts", "event_id", entry_gap_s=1800, jump_timeout_s=60
    )
    return marked.filter(F.col("is_entry")).select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("entry_time"),
        "is_jump",
    )


@register(
    "f_scalar_pack",
    oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS dt_str,
           epoch_us(ts) // 1000 AS epoch_ms,
           strftime(ts, '%Y-%m-%d') AS day_str,
           hour(ts) AS hr,
           strftime(ts, '%Y%m%d') AS yyyymmdd,
           CAST(props->>'$.k' AS BIGINT) AS k,
           CASE WHEN value > 100 THEN 1 ELSE 0 END AS is_big,
           event_type || '-' || CAST(user_id AS VARCHAR) AS tag
    FROM events
    """,
    doc="F1/F2/F3/F4/F10/F11/F13/F15 — scalar function pack over every "
    "event (util/DateTimeUtil.java, dws/KeywordStatsApp.java:41-44, "
    "dws/ProductStatsApp.java:180)",
    tags=("gmall", "functions"),
)
def f_scalar_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("dt_str"),
        F.expr("unix_micros(ts) div 1000").alias("epoch_ms"),
        F.date_format("ts", "yyyy-MM-dd").alias("day_str"),
        F.hour("ts").alias("hr"),
        F.date_format("ts", "yyyyMMdd").alias("yyyymmdd"),
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        one_hot(F.col("value") > 100).alias("is_big"),
        F.concat(F.col("event_type"), F.lit("-"), F.col("user_id").cast("string")).alias("tag"),
    )
