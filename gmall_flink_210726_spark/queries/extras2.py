"""Final coverage batch: native pivot, set operations, text-cleaning
normalization, and a cross-table documents⋈embeddings analysis query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmall_flink_210726_spark.functions.scalar import money_sum
from gmall_flink_210726_spark.operators.aggregations import window_agg
from gmall_flink_210726_spark.operators.layout import zorder_key_sql
from gmall_flink_210726_spark.registry import register
from gmall_flink_210726_spark.sources.batch import load_table


@register(
    "x1_pivot_event_types",
    oracle="""
    SELECT user_id,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'click'    THEN 1 END), 0) AS BIGINT) AS click,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'error'    THEN 1 END), 0) AS BIGINT) AS error,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchase,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'signup'   THEN 1 END), 0) AS BIGINT) AS signup,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'view'     THEN 1 END), 0) AS BIGINT) AS view
    FROM events
    GROUP BY user_id
    """,
    doc="Native .pivot(): wide per-user event-type counts (the manual "
    "CASE-WHEN shape of p8, via the dedicated operator; explicit value "
    "list avoids the extra distinct-values job)",
    tags=("extras", "pivot"),
)
def x1_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    pivoted = (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
    )
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in pivoted.columns if c != "user_id"],
    )


@register(
    "x2_intersect_except",
    oracle="""
    WITH buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    erroring AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error')
    SELECT 'buy_and_click' AS cohort, COUNT(*) AS ct
    FROM (SELECT user_id FROM buyers INTERSECT SELECT user_id FROM clickers)
    UNION ALL
    SELECT 'buy_never_error' AS cohort, COUNT(*) AS ct
    FROM (SELECT user_id FROM buyers EXCEPT SELECT user_id FROM erroring)
    """,
    doc="Set operations (engine extras beyond the reference's union-only "
    "§2.5): INTERSECT and EXCEPT cohorts",
    tags=("extras", "setops"),
)
def x2_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")

    def cohort(t):
        return events.filter(F.col("event_type") == t).select("user_id").distinct()

    both = cohort("purchase").intersect(cohort("click"))
    never = cohort("purchase").exceptAll(cohort("error")).distinct()
    return (
        both.agg(F.count(F.lit(1)).alias("ct")).select(F.lit("buy_and_click").alias("cohort"), "ct")
        .unionByName(
            never.agg(F.count(F.lit(1)).alias("ct")).select(F.lit("buy_never_error").alias("cohort"), "ct")
        )
    )


@register(
    "x3_text_cleaning",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(regexp_replace(trim(lower(text)), '[^a-z0-9 ]', ' ', 'g'),
                          ' +', ' ', 'g') AS clean_text,
           CAST(length(regexp_replace(regexp_replace(trim(lower(text)), '[^a-z0-9 ]', ' ', 'g'),
                          ' +', ' ', 'g')) AS BIGINT) AS clean_len
    FROM documents
    """,
    doc="Text-cleaning normalization pipeline (LLM preprocessing): "
    "lowercase, strip non-alphanumerics, collapse whitespace — pure "
    "JVM regexp_replace chain",
    tags=("extras", "text"),
)
def x3_text_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace(F.trim(F.lower(F.col("text"))), r"[^a-z0-9 ]", " "),
        r" +",
        " ",
    )
    return docs.select(
        "doc_id", clean.alias("clean_text"), F.length(clean).cast("long").alias("clean_len")
    )


@register(
    "x4_docs_join_embeddings",
    oracle="""
    SELECT label,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE) AS chars_sum
    FROM documents JOIN embeddings ON doc_id = vec_id
    GROUP BY label
    """,
    doc="Cross-modal join: documents ⋈ embeddings on id, per-cluster "
    "(label) document statistics — the join shape of joint text+vector "
    "curation pipelines",
    tags=("extras", "join"),
)
def x4_docs_join_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    joined = docs.join(emb, docs.doc_id == emb.vec_id, "inner")
    return joined.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_docs"), money_sum("n_chars", "chars_sum")
    )


@register(
    "w8_moving_avg_ntile",
    oracle="""
    WITH daily AS (
      SELECT o_custkey,
             strftime(o_orderdate, '%Y-%m-%d') AS odate,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS day_total
      FROM orders GROUP BY 1, 2),
    framed AS (
      SELECT o_custkey, odate, day_total,
             CAST(AVG(CAST(day_total AS DECIMAL(18,6))) OVER (
               PARTITION BY o_custkey ORDER BY odate
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS ma3,
             CAST(ntile(4) OVER (PARTITION BY o_custkey ORDER BY day_total, odate)
                  AS BIGINT) AS quartile
      FROM daily)
    SELECT o_custkey, odate, day_total, round(ma3, 6) AS ma3, quartile
    FROM framed
    """,
    doc="Frame-spec window functions the reference lacks (SURVEY §2.8): "
    "3-row moving average (ROWS BETWEEN 2 PRECEDING) and ntile "
    "quartiles per customer over daily order totals — one shuffle on "
    "the partition key serves the agg AND both window functions; "
    "decimal-exact day totals make the double avg engine-identical, "
    "rounded to 6 for the frame-sum tail; deterministic ntile via the "
    "(day_total, odate) total order",
    tags=("extras", "window"),
)
def w8_moving_avg_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from gmall_flink_210726_spark.functions.scalar import money

    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            "o_custkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate")
        )
        .agg(F.sum(money("o_totalprice")).cast("double").alias("day_total"))
    )
    ma_w = (
        Window.partitionBy("o_custkey").orderBy("odate").rowsBetween(-2, 0)
    )
    nt_w = Window.partitionBy("o_custkey").orderBy("day_total", "odate")
    return daily.select(
        "o_custkey",
        "odate",
        "day_total",
        F.round(F.avg(money("day_total")).over(ma_w).cast("double"), 6).alias("ma3"),
        F.ntile(4).over(nt_w).cast("long").alias("quartile"),
    )


@register(
    "x5_corr_regression_moments",
    oracle="""
    WITH a AS (
      SELECT l_returnflag,
             COUNT(*) AS n_rows,
             SUM(CAST(l_quantity AS DECIMAL(28,6))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS sy,
             SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(28,6))) AS sxy,
             SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,6))) AS sxx,
             SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,6))) AS syy
      FROM lineitem GROUP BY 1),
    d AS (
      SELECT l_returnflag, n_rows,
             CAST(n_rows AS DOUBLE) AS dn,
             CAST(sx AS DOUBLE) AS dsx, CAST(sy AS DOUBLE) AS dsy,
             CAST(sxy AS DOUBLE) AS dsxy, CAST(sxx AS DOUBLE) AS dsxx,
             CAST(syy AS DOUBLE) AS dsyy
      FROM a)
    SELECT l_returnflag,
           CAST(n_rows AS BIGINT) AS n_rows,
           round((dn * dsxy - dsx * dsy)
                 / (sqrt(dn * dsxx - dsx * dsx) * sqrt(dn * dsyy - dsy * dsy)),
                 6) AS corr_qty_price,
           round((dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx), 6) AS slope,
           round((dsy - ((dn * dsxy - dsx * dsy) / (dn * dsxx - dsx * dsx)) * dsx)
                 / dn, 6) AS intercept
    FROM d
    """,
    doc="Pearson correlation + OLS slope/intercept per return flag from "
    "EXACT decimal moment sums (n, Sx, Sy, Sxy, Sxx, Syy): the "
    "built-in corr/regr_* aggregates stream doubles in partition "
    "order and are not reproducible across engines or runs; moment "
    "sums as DECIMAL are order-free exact, and the closed-form "
    "combine is fixed-order IEEE double arithmetic mirrored "
    "token-for-token in the oracle. One partial+final aggregation — "
    "the same shuffle shape as any groupBy at 100 TB",
    tags=("extras", "stats"),
)
def x5_corr_regression_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(28,6)")  # noqa: E731
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    a = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(dec(q)).alias("sx"),
        F.sum(dec(p)).alias("sy"),
        F.sum(dec(q * p)).alias("sxy"),
        F.sum(dec(q * q)).alias("sxx"),
        F.sum(dec(p * p)).alias("syy"),
    )
    dn = F.col("n_rows").cast("double")
    dsx, dsy = F.col("sx").cast("double"), F.col("sy").cast("double")
    dsxy = F.col("sxy").cast("double")
    dsxx, dsyy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    cov = dn * dsxy - dsx * dsy
    vx = dn * dsxx - dsx * dsx
    vy = dn * dsyy - dsy * dsy
    return a.select(
        "l_returnflag",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), 6).alias("corr_qty_price"),
        F.round(cov / vx, 6).alias("slope"),
        F.round((dsy - (cov / vx) * dsx) / dn, 6).alias("intercept"),
    )


@register(
    "x6_zorder_keys",
    oracle=f"""
    SELECT o_orderkey,
           CAST({zorder_key_sql("(o_custkey & 65535)", "(o_orderkey & 65535)")}
                AS BIGINT) AS zkey
    FROM orders
    """,
    doc="Z-order (Morton) clustering keys over (o_custkey, o_orderkey) "
    "low 16 bits - the data-skipping layout primitive: writing a table "
    "range-partitioned and sorted by this key bounds BOTH columns' "
    "min-max range per file, so predicates on either dimension prune "
    "(operators/layout.py zorder_layout is the full OPTIMIZE-ZORDER "
    "recipe; test_llm_ops proves the per-file range bound). Pure JVM "
    "shift/mask projection; the oracle SQL is generated from the SAME "
    "loop as the Column expression so they cannot drift",
    tags=("extras", "layout"),
)
def x6_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.layout import zorder_key

    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        zorder_key(
            F.col("o_custkey").bitwiseAND(F.lit(65535)),
            F.col("o_orderkey").bitwiseAND(F.lit(65535)),
        ).alias("zkey"),
    )


@register(
    "x7_scd2_user_history",
    oracle="""
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(COALESCE(
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
             TIMESTAMP '9999-12-31 00:00:00'), '%Y-%m-%d %H:%M:%S') AS valid_to,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             IS NULL AS is_current,
           value
    FROM events
    WHERE event_type = 'signup' OR event_type = 'purchase'
    """,
    doc="Type-2 SCD build: each user's change rows (signup/purchase "
    "events standing in for dim-attribute changes) become validity "
    "intervals [valid_from, valid_to) with an is_current flag — the "
    "history-preserving complement of the K4 SCD1 upsert, enabling "
    "as-of joins against any past state. One lead() window per key "
    "(single key shuffle, no self-join), (ts, event_id) tiebreak "
    "keeps equal-timestamp chains deterministic",
    tags=("extras", "temporal"),
)
def x7_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.transform import scd2_intervals

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    out = scd2_intervals(ev, "user_id", "ts", "event_id")
    return out.select(
        "user_id",
        "event_id",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
        "value",
    )


@register(
    "x8_asof_interval_join",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id AS change_id, ts AS valid_from,
             COALESCE(lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                      TIMESTAMP '9999-12-31 00:00:00') AS valid_to
      FROM events WHERE event_type IN ('signup', 'purchase'))
    SELECT p.event_id AS probe_id, p.user_id, iv.change_id
    FROM events p
    JOIN iv ON p.user_id = iv.user_id
            AND p.ts >= iv.valid_from AND p.ts < iv.valid_to
    WHERE p.event_type = 'view'
    """,
    doc="Temporal as-of join against SCD2 history — the RANGE-JOIN "
    "shape: each view event matches the dimension interval active at "
    "its timestamp (equi key + half-open band residual; intervals are "
    "disjoint per key so at most one match). Plans as a single "
    "key-partitioned join with the range as residual predicate — no "
    "cross product; the interval build rides the same key shuffle",
    tags=("extras", "temporal", "join"),
)
def x8_asof_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmall_flink_210726_spark.operators.transform import scd2_intervals

    ev = load_table(spark, sf_dir, "events")
    changes = ev.filter(F.col("event_type").isin("signup", "purchase"))
    iv = scd2_intervals(changes, "user_id", "ts", "event_id").select(
        F.col("user_id").alias("iv_user"),
        F.col("event_id").alias("change_id"),
        "valid_from",
        "valid_to",
    )
    probes = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("probe_id"), "user_id", "ts"
    )
    joined = probes.join(
        iv,
        (probes.user_id == iv.iv_user)
        & (probes.ts >= iv.valid_from)
        & (probes.ts < iv.valid_to),
    )
    return joined.select("probe_id", "user_id", "change_id")


@register(
    "x9_sliding_window_pv",
    oracle="""
    WITH ev AS (SELECT epoch_ms(ts) AS ms, event_type FROM events),
    hops AS (
      SELECT event_type,
             unnest(list_transform(range(0, 4),
               k -> (ms // 21600000) * 21600000 - k * 21600000)) AS wstart
      FROM ev),
    valid AS (
      SELECT event_type, wstart FROM hops
      WHERE wstart >= 0),
    agg AS (
      SELECT wstart, event_type, COUNT(*) AS pv_ct
      FROM valid GROUP BY 1, 2)
    SELECT strftime(to_timestamp(wstart // 1000), '%Y-%m-%d %H:%M:%S') AS stt,
           strftime(to_timestamp(wstart // 1000 + 86400), '%Y-%m-%d %H:%M:%S') AS edt,
           event_type, pv_ct
    FROM agg
    """,
    doc="Sliding (hop) windows — 1-day duration, 6-hour slide: every "
    "event contributes to duration/slide = 4 overlapping windows. "
    "Spark's window(ts, '1 day', '6 hours') expands in-plan (no "
    "self-join); the oracle enumerates each event's 4 hop starts "
    "explicitly. Completes the window-class coverage: tumble (a1/a2), "
    "session (w4/w7/st5), frame (w8), and now hop",
    tags=("extras", "window"),
)
def x9_sliding_window_pv(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.timestamp_millis(F.expr("unix_micros(ts) div 1000")).alias("event_time"),
        "event_type",
    )
    return window_agg(
        ev,
        F.window("event_time", "1 day", "6 hours"),
        ["event_type"],
        [F.count(F.lit(1)).alias("pv_ct")],
    )


@register(
    "x10_unpivot_nation_metrics",
    oracle="""
    SELECT n_name, metric, CAST(val AS BIGINT) AS val
    FROM (
      SELECT n.n_name,
             COUNT(DISTINCT c.c_custkey) AS customers,
             COUNT(DISTINCT s.s_suppkey) AS suppliers
      FROM nation n
      LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
      LEFT JOIN supplier s ON s.s_nationkey = n.n_nationkey
      GROUP BY 1)
    UNPIVOT (val FOR metric IN (customers, suppliers))
    """,
    doc="Native unpivot (melt) — the inverse of x1's pivot: a wide "
    "per-nation metric row becomes (nation, metric, value) long form, "
    "the shape feeding generic metric sinks/dashboards. Spark's "
    "unpivot expands in-plan (an Expand node, no join/shuffle beyond "
    "the source agg); DuckDB's UNPIVOT mirrors it",
    tags=("extras", "reshape"),
)
def x10_unpivot_nation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    wide = (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .join(s, s.s_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.count_distinct("c_custkey").alias("customers"),
            F.count_distinct("s_suppkey").alias("suppliers"),
        )
    )
    return wide.unpivot(
        ids=["n_name"],
        values=["customers", "suppliers"],
        variableColumnName="metric",
        valueColumnName="val",
    ).select("n_name", "metric", F.col("val").cast("long").alias("val"))


@register(
    "x11_profile_orders",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n_rows,
             COUNT(o_custkey) AS nn_custkey,
             COUNT(DISTINCT o_custkey) AS nd_custkey,
             CAST(MIN(o_custkey) AS VARCHAR) AS mn_custkey,
             CAST(MAX(o_custkey) AS VARCHAR) AS mx_custkey,
             COUNT(o_orderstatus) AS nn_status,
             COUNT(DISTINCT o_orderstatus) AS nd_status,
             CAST(MIN(o_orderstatus) AS VARCHAR) AS mn_status,
             CAST(MAX(o_orderstatus) AS VARCHAR) AS mx_status,
             COUNT(o_totalprice) AS nn_price,
             COUNT(DISTINCT o_totalprice) AS nd_price,
             CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mn_price,
             CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mx_price
      FROM orders)
    SELECT col, n_rows, n_nonnull, n_distinct, min_val, max_val
    FROM (
      SELECT 'o_custkey' AS col, n_rows, nn_custkey AS n_nonnull,
             nd_custkey AS n_distinct, mn_custkey AS min_val, mx_custkey AS max_val
      FROM s
      UNION ALL
      SELECT 'o_orderstatus', n_rows, nn_status, nd_status, mn_status, mx_status
      FROM s
      UNION ALL
      SELECT 'o_totalprice', n_rows, nn_price, nd_price, mn_price, mx_price
      FROM s)
    """,
    doc="Table profiling (the Deequ/data-quality primitive): per-column "
    "row count, non-null count, exact distinct count, min and max, in "
    "the long (col, stat...) form a quality monitor stores. Shape: one "
    "SINGLE-distinct aggregation leg per column, unioned — each leg "
    "column-prunes to exactly its own column (total bytes read = one "
    "3-column scan) and plans as the two-level HashAggregate distinct "
    "rewrite. The r4/r5 stack()-over-one-agg shape measured 3-4x "
    "slower: three count_distincts in one agg force an Expand (3x "
    "every row) and the string-typed min/max buffers disqualify "
    "HashAggregate, so the tripled corpus went through a full "
    "SortAggregate (r5 VERDICT #4 root cause). Values stringified "
    "with fixed formatting on both engines",
    tags=("extras", "quality"),
)
def x11_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    # each leg first collapses to the per-value count frame (a
    # HashAggregate: string GROUPING keys are fine, it's string agg
    # BUFFERS that disqualify hash mode), then folds that compact
    # frame: n_rows/n_nonnull from the counts, n_distinct = non-null
    # group count, min/max on the NATIVE group key then stringified
    # (stringifying first would make them lexicographic)
    def leg(colname: str, stringify) -> DataFrame:
        g = orders.groupBy(colname).agg(F.count(F.lit(1)).alias("ct"))
        return g.agg(
            F.sum("ct").cast("long").alias("n_rows"),
            F.sum(
                F.when(F.col(colname).isNotNull(), F.col("ct")).otherwise(0)
            )
            .cast("long")
            .alias("n_nonnull"),
            F.count(colname).alias("n_distinct"),
            stringify(F.min(colname)).alias("min_val"),
            stringify(F.max(colname)).alias("max_val"),
        ).select(
            F.lit(colname).alias("col"),
            "n_rows",
            "n_nonnull",
            "n_distinct",
            "min_val",
            "max_val",
        )

    as_str = lambda c: c.cast("string")  # noqa: E731
    as_dec = lambda c: c.cast("decimal(18,2)").cast("string")  # noqa: E731
    return (
        leg("o_custkey", as_str)
        .unionAll(leg("o_orderstatus", as_str))
        .unionAll(leg("o_totalprice", as_dec))
    )


@register(
    "x12_histogram_order_totals",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           CAST(FLOOR(o_totalprice / 50000) * 50000 AS BIGINT) AS bucket_lo,
           COUNT(*) AS ct,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bucket_sum
    FROM orders
    GROUP BY 1, 2
    """,
    doc="Equi-width histogram of order totals (50k-wide buckets): the "
    "distribution-profiling aggregate behind dashboards and skew "
    "diagnosis. Fixed bucket bounds keep it one partial+final "
    "aggregation (a data-dependent min/max binning would need a "
    "pre-pass); IEEE floor-of-division buckets identically on both "
    "engines and the per-bucket sum is an exact decimal",
    tags=("extras", "stats"),
)
def x12_histogram_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000).cast("long")
    return orders.groupBy(
        bucket.alias("bucket"), (bucket * 50000).cast("long").alias("bucket_lo")
    ).agg(
        F.count(F.lit(1)).alias("ct"),
        money_sum("o_totalprice", "bucket_sum"),
    )
