"""The reference's ten applications as composable plan functions.

Each Flink app `main()` (dwd/dwm/dws packages) becomes a pure
DataFrame→DataFrame function: no env setup, no Kafka wiring — callers
bind sources/sinks (batch parquet dirs in tests, readStream/writeStream
in streaming mode). Intended semantics are implemented where the
committed code has bugs (SURVEY §4.3 lists them).

Apps and their reference mains:
- base_log_app          dwd/BaseLogApp.java
- base_db_app           dwd/BaseDBApp.java + func/TableProcessFunction.java
- unique_visit_app      dwm/UniqueVisitApp.java
- user_jump_detail_app  dwm/UserJumpDetailApp.java
- order_wide_app        dwm/OrderWideApp.java
- payment_wide_app      dwm/PaymentWideApp.java
- visitor_stats_app     dws/VisitorStatsApp.java
- product_stats_app     dws/ProductStatsApp.java
- province_stats_app    dws/ProvinceStatsSqlApp.java
- keyword_stats_app     dws/KeywordStatsApp.java
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from gmall_flink_210726_spark.functions.scalar import DT_FMT
from gmall_flink_210726_spark.functions.tokenizer import tokenize_col
from gmall_flink_210726_spark.operators.aggregations import window_agg
from gmall_flink_210726_spark.operators.joins import interval_join
from gmall_flink_210726_spark.operators.parse import parse_json_column
from gmall_flink_210726_spark.operators.split import (
    explode_with_parent,
    split_stream,
    union_by_name,
)
from gmall_flink_210726_spark.operators.stateful import first_per_key
from gmall_flink_210726_spark.schemas import LOG_EVENT_SCHEMA

# --------------------------------------------------------------------- helpers


def _stamp(now_ms: int | None) -> Column:
    """F9 — the processing-time ``ts`` stamp of a DWS row; ``now_ms``
    pins it for deterministic tests."""
    return F.lit(now_ms) if now_ms is not None else F.unix_millis(F.current_timestamp())


def with_event_ts(df: DataFrame, create_time_col: str = "create_time") -> DataFrame:
    """F1 — derive epoch-ms + timestamp event time from the reference's
    'yyyy-MM-dd HH:mm:ss' strings (dwm/OrderWideApp.java:63-64)."""
    t = F.to_timestamp(F.col(create_time_col), DT_FMT)
    return df.withColumn("create_ts", F.expr(f"unix_micros(to_timestamp({create_time_col}, '{DT_FMT}')) div 1000")).withColumn(
        "event_time", t
    )


# ------------------------------------------------------------------ BaseLogApp


def base_log_app(raw: DataFrame, value_col: str = "value") -> dict[str, DataFrame]:
    """dwd/BaseLogApp.java — parse + dirty side output (P1, :51-63),
    is_new rewrite (T6, :64-95), 3-way split (R1, :97-131) with display
    flatten (R2, :113-125).

    Returns {'page', 'start', 'display', 'dirty'} DataFrames.
    """
    good, dirty = parse_json_column(raw, value_col, LOG_EVENT_SCHEMA)

    # T6: BaseLogApp.java:79-94 writes the seen-ValueState ONLY on events
    # that claim is_new='1' — the mid's first claimed-new event keeps
    # '1', later claimed-new events become '0', and events claiming '0'
    # neither consult nor set the marker (so a mid whose first event
    # claims '0' still keeps a later claimed '1' — reference semantics).
    # page_id tiebreak (null-first for start events) keeps the window
    # deterministic when a mid has two events at the same ts.
    w = (
        Window.partitionBy("common.mid")
        .orderBy(F.col("ts").asc(), F.col("page.page_id").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    claimed_new = F.col("common.is_new") == "1"
    prior_claims = F.count(F.when(claimed_new, F.lit(1))).over(w)
    fixed = good.withColumn(
        "common",
        F.col("common").withField(
            "is_new",
            F.when(claimed_new & (prior_claims > 0), "0").otherwise(
                F.col("common.is_new")
            ),
        ),
    )

    return {**split_log(fixed), "dirty": dirty}


def split_log(events: DataFrame) -> dict[str, DataFrame]:
    """dwd/BaseLogApp.java:97-131 — the 3-way split of parsed log events
    (R1) with the display flatten (R2, :113-125), shared by the batch
    app and its streaming binding. Returns {'page', 'start', 'display'}."""
    branches = split_stream(
        events, {"page": F.col("start").isNull(), "start": F.col("start").isNotNull()}
    )
    display = explode_with_parent(
        branches["page"].filter(F.col("displays").isNotNull()),
        "displays",
        ["common", "page", "ts"],
        element_alias="display",
    ).select(
        "common",
        F.col("display.item").alias("item"),
        F.col("display.item_type").alias("item_type"),
        F.col("page.page_id").alias("page_id"),
        "ts",
    )
    return {**branches, "display": display}


# ------------------------------------------------------------------- BaseDBApp


def base_db_app(cdc: DataFrame, rules: list[dict]) -> dict[str, DataFrame]:
    """dwd/BaseDBApp.java — CDC envelope stream → delete filter (P3,
    :55-60) → config-driven routing with column pruning (R3,
    func/TableProcessFunction.java:48-77).

    ``cdc`` has the envelope schema; ``rules`` are table_process rows.
    Returns {sink_table: pruned DataFrame of after-columns}.
    """
    alive = cdc.filter(F.col("type") != "delete")
    out: dict[str, DataFrame] = {}
    for r in rules:
        cols = [c.strip() for c in r["sink_columns"].split(",") if c.strip()]
        branch = alive.filter(
            (F.col("tableName") == r["source_table"])
            & (F.col("type") == r["operate_type"])
        )
        out[r["sink_table"]] = branch.select(
            *[F.col("after")[c].alias(c) for c in cols]
        )
    return out


# -------------------------------------------------------------- UniqueVisitApp


def unique_visit_app(page: DataFrame) -> DataFrame:
    """dwm/UniqueVisitApp.java:50-92 — daily unique visitors: keep only
    each mid's first session-entry event per day (T5). Batch replay of
    the 24h-TTL ValueState<lastVisitDate>."""
    entries = page.filter(F.col("page.last_page_id").isNull())
    with_day = entries.withColumn(
        "dt", F.date_format(F.timestamp_millis(F.col("ts")), "yyyy-MM-dd")
    )
    # page_id tie-break: deterministic winner when two entries share a ts
    return first_per_key(with_day, ["common.mid", "dt"], ["ts", "page.page_id"]).drop("dt")


# ----------------------------------------------------------- UserJumpDetailApp


def user_jump_detail_app(page: DataFrame, timeout_s: int = 60) -> DataFrame:
    """dwm/UserJumpDetailApp.java:65-96 — CEP bounce detection, batch
    replay (T4). A session-entry event (last_page_id IS NULL) is a
    'jump' when, within ``timeout_s``:
      - the strictly-next event of the mid is another entry (matched
        branch of the pattern), or
      - there is no next event at all (timeout branch).
    Both branches emit the entry event itself; a non-entry next event
    within the window means normal navigation (no jump).
    """
    # page_id tiebreak: deterministic lead() when two events share a ts
    w = Window.partitionBy("common.mid").orderBy(
        F.col("ts").asc(), F.col("page.page_id").asc_nulls_first()
    )
    next_ts = F.lead("ts").over(w)
    next_is_entry = F.lead(F.col("page.last_page_id")).over(w).isNull()
    is_entry = F.col("page.last_page_id").isNull()
    timeout_ms = timeout_s * 1000
    is_jump = is_entry & (
        next_ts.isNull()
        | (next_ts - F.col("ts") > timeout_ms)
        | ((next_ts - F.col("ts") <= timeout_ms) & next_is_entry)
    )
    return page.withColumn("_is_jump", is_jump).filter(F.col("_is_jump")).drop("_is_jump")


# ---------------------------------------------------------------- OrderWideApp


def order_wide_app(
    order_info: DataFrame,
    order_detail: DataFrame,
    dims: dict[str, DataFrame],
    now: Column | None = None,
) -> DataFrame:
    """dwm/OrderWideApp.java — derived datetime cols (P7, :57-64),
    ±5 s interval join on order id (J1, :87-97), then the 6-dim
    broadcast enrichment chain (J2, :100-195: user age/gender, province,
    sku, spu, trademark, category3). ``now`` injects the clock for the
    age calculation (deterministic tests); defaults to current_date.

    Intended semantics where the committed code is buggy: the SKU join
    reads DIM_SKU_INFO (not the copy-pasted DIM_BASE_PROVINCE at :141).
    """
    oi = with_event_ts(order_info).select(
        F.col("id").alias("order_id"),
        "province_id",
        "user_id",
        "order_status",
        F.col("total_amount"),
        F.col("activity_reduce_amount"),
        F.col("coupon_reduce_amount"),
        F.col("original_total_amount"),
        F.col("feight_fee"),
        F.col("create_time"),
        F.split(F.col("create_time"), " ")[0].alias("create_date"),
        F.hour(F.col("event_time")).alias("create_hour"),
        F.col("create_ts").alias("order_create_ts"),
        F.col("event_time").alias("order_event_time"),
    )
    od = with_event_ts(order_detail).select(
        F.col("id").alias("detail_id"),
        F.col("order_id").alias("detail_order_id"),
        "sku_id",
        "order_price",
        "sku_num",
        F.col("sku_name").alias("detail_sku_name"),
        F.col("split_total_amount"),
        F.col("split_activity_amount"),
        F.col("split_coupon_amount"),
        F.col("create_ts").alias("detail_create_ts"),
        F.col("event_time").alias("detail_event_time"),
    )
    wide = interval_join(
        oi,
        od,
        "order_id",
        "detail_order_id",
        "order_event_time",
        "detail_event_time",
        lower_s=-5,
        upper_s=5,
    ).drop("detail_order_id", "order_event_time", "detail_event_time")

    user = dims["dim_user_info"]
    province = dims["dim_base_province"]
    sku = dims["dim_sku_info"]
    spu = dims["dim_spu_info"]
    tm = dims["dim_base_trademark"]
    c3 = dims["dim_base_category3"]
    now = now if now is not None else F.current_date()

    # J2 chain — each dim broadcast once per batch.
    wide = (
        wide.join(
            F.broadcast(
                user.select(
                    F.col("id").alias("_uid"),
                    F.col("gender").alias("user_gender"),
                    F.col("birthday"),
                )
            ),
            F.col("user_id").cast("string") == F.col("_uid"),
            "left",
        )
        # F5: intended 365-day-year age (dwm/OrderWideApp.java:109-114)
        .withColumn(
            "user_age",
            F.floor(F.datediff(now, F.to_date("birthday")) / 365).cast("long"),
        )
        .drop("_uid", "birthday")
        .join(
            F.broadcast(
                province.select(
                    F.col("id").alias("_pid"),
                    F.col("name").alias("province_name"),
                    F.col("area_code").alias("province_area_code"),
                    F.col("iso_code").alias("province_iso_code"),
                    F.col("iso_3166_2").alias("province_3166_2_code"),
                )
            ),
            F.col("province_id").cast("string") == F.col("_pid"),
            "left",
        )
        .drop("_pid")
        .join(
            F.broadcast(
                sku.select(
                    F.col("id").alias("_skuid"),
                    F.col("sku_name"),
                    F.col("price").alias("sku_price"),
                    F.col("spu_id"),
                    F.col("tm_id"),
                    F.col("category3_id"),
                )
            ),
            F.col("sku_id").cast("string") == F.col("_skuid"),
            "left",
        )
        .drop("_skuid")
        .join(
            F.broadcast(spu.select(F.col("id").alias("_spuid"), F.col("spu_name"))),
            F.col("spu_id") == F.col("_spuid"),
            "left",
        )
        .drop("_spuid")
        .join(
            F.broadcast(tm.select(F.col("id").alias("_tmid"), F.col("tm_name"))),
            F.col("tm_id") == F.col("_tmid"),
            "left",
        )
        .drop("_tmid")
        .join(
            F.broadcast(c3.select(F.col("id").alias("_c3id"), F.col("name").alias("category3_name"))),
            F.col("category3_id") == F.col("_c3id"),
            "left",
        )
        .drop("_c3id")
    )
    return wide


# -------------------------------------------------------------- PaymentWideApp


def payment_wide_app(payment_info: DataFrame, order_wide: DataFrame) -> DataFrame:
    """dwm/PaymentWideApp.java:86-96 — payment ⋈ order_wide on order_id
    with order in [payment − 15 s, payment] (J1). Payment-centric wide
    row; order-side columns win on conflicts (intended semantics —
    the committed BeanUtils copy order at bean/PaymentWide.java:56-73
    clobbers them, SURVEY §4.3)."""
    pay = with_event_ts(payment_info).select(
        F.col("id").alias("payment_id"),
        F.col("order_id").alias("payment_order_id"),
        F.col("user_id").alias("payment_user_id"),
        F.col("total_amount").alias("payment_amount"),
        "subject",
        "payment_type",
        F.col("create_time").alias("payment_create_time"),
        F.col("event_time").alias("payment_event_time"),
    )
    ow = order_wide.withColumn(
        "order_event_time", F.to_timestamp("create_time", DT_FMT)
    )
    joined = interval_join(
        pay,
        ow,
        "payment_order_id",
        "order_id",
        "payment_event_time",
        "order_event_time",
        lower_s=-15,
        upper_s=0,
    )
    return joined.drop("payment_order_id", "payment_event_time", "order_event_time")


# ------------------------------------------------------------- VisitorStatsApp


def visitor_stats_app(
    page: DataFrame,
    unique_visits: DataFrame,
    jumps: DataFrame,
    window_duration: str = "10 seconds",
    now_ms: int | None = None,
) -> DataFrame:
    """dws/VisitorStatsApp.java — normalize three streams to the
    VisitorStats shape (P8, :61-95), union (U1, :98), 10 s tumbling
    reduce keyed by (ar, ch, vc, is_new) (A2, :108-141).

    ``now_ms`` pins the processing-time ``ts`` stamp (F9) for
    deterministic tests.
    """
    def keys(df: DataFrame) -> list[Column]:
        return [
            F.col("common.ar").alias("ar"),
            F.col("common.ch").alias("ch"),
            F.col("common.vc").alias("vc"),
            F.col("common.is_new").alias("is_new"),
        ]

    pv = page.select(
        *keys(page),
        F.timestamp_millis(F.col("ts")).alias("event_time"),
        F.lit(0).alias("uv_ct"),
        F.lit(1).alias("pv_ct"),
        F.when(F.col("page.last_page_id").isNull(), 1).otherwise(0).alias("sv_ct"),
        F.lit(0).alias("uj_ct"),
        F.col("page.during_time").alias("dur_sum"),
    )
    uv = unique_visits.select(
        *keys(unique_visits),
        F.timestamp_millis(F.col("ts")).alias("event_time"),
        F.lit(1).alias("uv_ct"),
        F.lit(0).alias("pv_ct"),
        F.lit(0).alias("sv_ct"),
        F.lit(0).alias("uj_ct"),
        F.lit(0).cast("long").alias("dur_sum"),
    )
    uj = jumps.select(
        *keys(jumps),
        F.timestamp_millis(F.col("ts")).alias("event_time"),
        F.lit(0).alias("uv_ct"),
        F.lit(0).alias("pv_ct"),
        F.lit(0).alias("sv_ct"),
        F.lit(1).alias("uj_ct"),
        F.lit(0).cast("long").alias("dur_sum"),
    )
    unioned = union_by_name([pv, uv, uj])
    counters = ["uv_ct", "pv_ct", "sv_ct", "uj_ct", "dur_sum"]
    return window_agg(
        unioned,
        F.window("event_time", window_duration),
        ["vc", "ch", "ar", "is_new"],
        [F.sum(c).alias(c) for c in counters],
    ).withColumn("ts", _stamp(now_ms))


# ------------------------------------------------------------- ProductStatsApp


def product_stats_app(
    display: DataFrame,
    page: DataFrame,
    order_wide: DataFrame,
    payment_wide: DataFrame,
    cart: DataFrame,
    favor: DataFrame,
    refund: DataFrame,
    comment: DataFrame,
    window_duration: str = "10 seconds",
    now_ms: int | None = None,
) -> DataFrame:
    """dws/ProductStatsApp.java — 7-stream union → 10 s tumbling window
    by sku_id with summed counters and exact distinct order counts
    (P8 :80-185, U1 :188-191, A1/A3 :202-241).

    Intended semantics: order-stream rows carry event time from
    create_time (the committed code never sets ts for that branch,
    SURVEY §4.3)."""
    z = F.lit(0)
    zm = F.lit(0).cast("decimal(16,2)")
    znull = F.lit(None).cast("long")

    def shape(df, sku, et, **m):
        cols = dict(
            display_ct=z, click_ct=z, favor_ct=z, cart_ct=z,
            order_sku_num=z, order_amount=zm, order_id=znull,
            payment_amount=zm, paid_order_id=znull, refund_order_id=znull,
            refund_amount=zm, comment_ct=z, good_comment_ct=z,
        )
        cols.update(m)
        return df.select(
            sku.cast("long").alias("sku_id"),
            et.alias("event_time"),
            *[v.alias(k) for k, v in cols.items()],
        )

    clicks = shape(
        page.filter(
            (F.col("page.page_id") == "good_detail")
            & (F.col("page.item_type") == "sku_id")
        ),
        F.col("page.item"),
        F.timestamp_millis(F.col("ts")),
        click_ct=F.lit(1),
    )
    displays = shape(
        display.filter(F.col("item_type") == "sku_id"),
        F.col("item"),
        F.timestamp_millis(F.col("ts")),
        display_ct=F.lit(1),
    )
    orders = shape(
        order_wide,
        F.col("sku_id"),
        F.to_timestamp("create_time", DT_FMT),
        order_sku_num=F.col("sku_num"),
        order_amount=F.col("split_total_amount"),
        order_id=F.col("order_id"),
    )
    payments = shape(
        payment_wide,
        F.col("sku_id"),
        F.to_timestamp("payment_create_time", DT_FMT),
        payment_amount=F.col("split_total_amount"),
        paid_order_id=F.col("order_id"),
    )
    carts = shape(
        cart, F.col("sku_id"), F.to_timestamp("create_time", DT_FMT), cart_ct=F.lit(1)
    )
    favors = shape(
        favor, F.col("sku_id"), F.to_timestamp("create_time", DT_FMT), favor_ct=F.lit(1)
    )
    refunds = shape(
        refund,
        F.col("sku_id"),
        F.to_timestamp("create_time", DT_FMT),
        refund_amount=F.col("refund_amount"),
        refund_order_id=F.col("order_id"),
    )
    comments = shape(
        comment,
        F.col("sku_id"),
        F.to_timestamp("create_time", DT_FMT),
        comment_ct=F.lit(1),
        # GmallConstant.java:21-24 — '1201' is a good appraise
        good_comment_ct=F.when(F.col("appraise") == "1201", 1).otherwise(0),
    )

    unioned = union_by_name(
        [clicks, displays, orders, payments, carts, favors, refunds, comments]
    )
    return window_agg(
        unioned,
        F.window("event_time", window_duration),
        ["sku_id"],
        [
        F.sum("display_ct").alias("display_ct"),
        F.sum("click_ct").alias("click_ct"),
        F.sum("favor_ct").alias("favor_ct"),
        F.sum("cart_ct").alias("cart_ct"),
        F.sum("order_sku_num").alias("order_sku_num"),
        F.sum("order_amount").alias("order_amount"),
        F.countDistinct("order_id").alias("order_ct"),  # A3 HashSet analog
        F.sum("payment_amount").alias("payment_amount"),
        F.countDistinct("paid_order_id").alias("paid_order_ct"),
        F.countDistinct("refund_order_id").alias("refund_order_ct"),
        F.sum("refund_amount").alias("refund_amount"),
        F.sum("comment_ct").alias("comment_ct"),
        F.sum("good_comment_ct").alias("good_comment_ct"),
        ],
    ).withColumn("ts", _stamp(now_ms))


# ------------------------------------------------------------ ProvinceStatsApp


def province_stats_app(
    order_wide: DataFrame,
    window_duration: str = "10 seconds",
    now_ms: int | None = None,
) -> DataFrame:
    """dws/ProvinceStatsSqlApp.java:44-52 — TUMBLE(10 s) grouped by the
    five province columns: COUNT(DISTINCT order_id), SUM(amount).
    Intended semantics: sums split_total_amount (the DDL column; the
    committed SQL reads a non-existent total_amount, SURVEY §4.3)."""
    src = order_wide.withColumn("rt", F.to_timestamp("create_time", DT_FMT))
    return window_agg(
        src,
        F.window("rt", window_duration),
        [
            "province_id",
            "province_name",
            "province_area_code",
            "province_iso_code",
            "province_3166_2_code",
        ],
        [
            F.sum("split_total_amount").alias("order_amount"),
            F.countDistinct("order_id").alias("order_count"),
        ],
    ).withColumn("ts", _stamp(now_ms))


# ------------------------------------------------------------- KeywordStatsApp


def keyword_stats_app(
    page: DataFrame,
    window_duration: str = "10 seconds",
    now_ms: int | None = None,
) -> DataFrame:
    """dws/KeywordStatsApp.java — search-event filter (P4, :40-45),
    tokenizer UDTF + lateral explode (D1, :47-53), TUMBLE count (A5,
    :56-61). Source constant 'search' per the reference's insert.

    The same function is the batch and the streaming form: the
    reference's 2 s watermark is set on every page event BEFORE the
    search filter (a post-filter watermark would stall whenever
    searches are sparse), and a batch plan does not keep it."""
    events = page.withColumn(
        "event_time", F.timestamp_millis(F.col("ts"))
    ).withWatermark("event_time", "2 seconds")
    searches = events.filter(
        (F.col("page.last_page_id") == "search") & F.col("page.item").isNotNull()
    )
    words = searches.select(
        "event_time", F.explode(tokenize_col(F.col("page.item"))).alias("keyword")
    )
    return window_agg(
        words,
        F.window("event_time", window_duration),
        ["keyword"],
        [F.count(F.lit(1)).alias("ct")],
    ).select(
        "keyword",
        "ct",
        F.lit("search").alias("source"),
        "stt",
        "edt",
        _stamp(now_ms).alias("ts"),
    )
