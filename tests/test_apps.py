"""Pipeline tests for the ten reference apps (plans/apps.py) over
deterministic gmall-shaped fixtures. Ground truth is computed
independently in pure Python from the same fixture data.
"""

from __future__ import annotations

import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from gmall_flink_210726_spark import fixtures
from gmall_flink_210726_spark.plans import apps
from gmall_flink_210726_spark.schemas import (
    ORDER_DETAIL_SCHEMA,
    ORDER_INFO_SCHEMA,
    PAYMENT_INFO_SCHEMA,
)

NOW_MS = 1_750_000_000_000


@pytest.fixture(scope="module")
def log_lines():
    return fixtures.gen_log_events()


@pytest.fixture(scope="module")
def log_branches(spark, log_lines, tmp_path_factory):
    p = tmp_path_factory.mktemp("logs") / "events.txt"
    p.write_text("\n".join(log_lines))
    raw = spark.read.text(str(p))
    out = apps.base_log_app(raw)
    for df in out.values():
        df.cache()
    return out


def _parsed_events(log_lines):
    evts = []
    for line in log_lines:
        try:
            evts.append(json.loads(line))
        except json.JSONDecodeError:
            pass
    return evts


def test_fixture_has_unique_mid_ts(log_lines):
    """The app-layer windows tie-break on (mid, ts); the fixture must
    not contain same-mid-same-ts collisions or downstream determinism
    (and the DuckDB pipeline oracle) would be at the mercy of sort
    order. Guard the invariant the determinism rests on."""
    seen = set()
    for e in _parsed_events(log_lines):
        key = (e["common"]["mid"], e["ts"])
        assert key not in seen, f"fixture collision: {key}"
        seen.add(key)


class TestBaseLogApp:
    def test_dirty_side_output(self, log_branches, log_lines):
        n_bad = len(log_lines) - len(_parsed_events(log_lines))
        assert n_bad > 0
        assert log_branches["dirty"].count() == n_bad

    def test_split_is_partition(self, log_branches, log_lines):
        good = len(_parsed_events(log_lines))
        assert (
            log_branches["page"].count() + log_branches["start"].count() == good
        )

    def test_display_explode(self, log_branches, log_lines):
        expected = sum(
            len(e.get("displays", []))
            for e in _parsed_events(log_lines)
            if "start" not in e
        )
        assert log_branches["display"].count() == expected
        # parent fields carried onto elements
        row = log_branches["display"].filter(F.col("item").isNotNull()).first()
        assert row.page_id is not None and row.ts is not None

    def test_is_new_rewrite(self, log_branches):
        # T6 reference semantics (BaseLogApp.java:79-94): at most ONE
        # surviving is_new=1 per mid — the earliest CLAIMED-new event
        # (an earlier '0'-claiming event does not burn the marker)
        pages = log_branches["page"].unionByName(log_branches["start"], allowMissingColumns=True)
        per_mid = (
            pages.filter(F.col("common.is_new") == "1")
            .groupBy("common.mid")
            .count()
        )
        assert per_mid.filter(F.col("count") > 1).count() == 0


class TestUniqueVisit:
    def test_one_entry_per_mid_day(self, spark, log_branches):
        uv = apps.unique_visit_app(log_branches["page"])
        grouped = uv.select(
            F.col("common.mid").alias("mid"),
            F.date_format(F.timestamp_millis("ts"), "yyyy-MM-dd").alias("dt"),
        ).groupBy("mid", "dt").count()
        assert grouped.filter(F.col("count") > 1).count() == 0

    def test_all_are_entries(self, log_branches):
        uv = apps.unique_visit_app(log_branches["page"])
        assert uv.filter(F.col("page.last_page_id").isNotNull()).count() == 0


class TestUserJumpDetail:
    def test_handcrafted_cep_cases(self, spark):
        # mid_a: entry → page 5 s later (no jump)
        # mid_b: entry → entry 10 s later (jump on first, second pending→timeout jump)
        # mid_c: entry alone (timeout jump)
        # mid_d: entry → page 70 s later (timeout jump — next too late)
        def ev(mid, ts, last_page):
            return {
                "common": {"mid": mid, "vc": "v1", "ch": "c", "ar": "1", "is_new": "0"},
                "page": {"page_id": "home", "last_page_id": last_page, "item": None,
                         "item_type": None, "during_time": 1000},
                "ts": ts,
            }

        base = 1_700_000_000_000
        events = [
            ev("mid_a", base, None), ev("mid_a", base + 5_000, "home"),
            ev("mid_b", base, None), ev("mid_b", base + 10_000, None),
            ev("mid_c", base, None),
            ev("mid_d", base, None), ev("mid_d", base + 70_000, "home"),
        ]
        df = spark.createDataFrame(
            [(json.dumps(e),) for e in events], ["value"]
        )
        page = apps.base_log_app(df)["page"]
        jumps = apps.user_jump_detail_app(page)
        got = {(r.mid, r.ts) for r in jumps.select(F.col("common.mid").alias("mid"), "ts").collect()}
        assert got == {
            ("mid_b", base),            # matched branch: entry→entry within 60 s
            ("mid_b", base + 10_000),   # its successor entry times out
            ("mid_c", base),            # timeout: no successor
            ("mid_d", base),            # timeout: successor beyond 60 s
        }


@pytest.fixture(scope="module")
def business(spark):
    orders, details, payments = fixtures.gen_business_rows()

    def df(rows, schema):
        typed = spark.createDataFrame(
            [[r[f.name] for f in schema.fields] for r in rows],
            schema=",".join(f"{f.name} string" for f in schema.fields),
        )
        return typed.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields])

    dims = {
        name: spark.createDataFrame(rows)
        for name, rows in fixtures.gen_dims().items()
    }
    return {
        "orders": df(orders, ORDER_INFO_SCHEMA),
        "details": df(details, ORDER_DETAIL_SCHEMA),
        "payments": df(payments, PAYMENT_INFO_SCHEMA),
        "dims": dims,
        "raw": (orders, details, payments),
    }


class TestOrderWide:
    def test_interval_join_bounds_and_dims(self, business):
        wide = apps.order_wide_app(
            business["orders"], business["details"], business["dims"]
        ).cache()
        orders, details, _ = business["raw"]
        by_id = {o["id"]: datetime.strptime(o["create_time"], "%Y-%m-%d %H:%M:%S") for o in orders}
        expected = sum(
            1
            for d in details
            if abs(
                (datetime.strptime(d["create_time"], "%Y-%m-%d %H:%M:%S") - by_id[d["order_id"]]).total_seconds()
            )
            <= 5
        )
        assert wide.count() == expected
        assert expected < len(details)  # fixture includes out-of-bound details
        # dim enrichment resolved (every fk resolves in the fixture)
        assert wide.filter(F.col("province_name").isNull()).count() == 0
        assert wide.filter(F.col("sku_name").isNull()).count() == 0
        assert wide.filter(F.col("spu_name").isNull()).count() == 0
        assert wide.filter(F.col("tm_name").isNull()).count() == 0
        assert wide.filter(F.col("category3_name").isNull()).count() == 0
        assert wide.filter(F.col("user_age").isNull() | (F.col("user_age") < 0)).count() == 0


class TestPaymentWide:
    def test_interval_join_bounds(self, business):
        wide = apps.order_wide_app(
            business["orders"], business["details"], business["dims"]
        )
        pw = apps.payment_wide_app(business["payments"], wide)
        orders, details, payments = business["raw"]
        o_time = {o["id"]: datetime.strptime(o["create_time"], "%Y-%m-%d %H:%M:%S") for o in orders}
        d_in = {}
        for d in details:
            delta = (datetime.strptime(d["create_time"], "%Y-%m-%d %H:%M:%S") - o_time[d["order_id"]]).total_seconds()
            if abs(delta) <= 5:
                d_in[d["order_id"]] = d_in.get(d["order_id"], 0) + 1
        expected = 0
        for p in payments:
            pt = datetime.strptime(p["create_time"], "%Y-%m-%d %H:%M:%S")
            delta = (o_time[p["order_id"]] - pt).total_seconds()
            if -15 <= delta <= 0:
                expected += d_in.get(p["order_id"], 0)
        assert pw.count() == expected


class TestBaseDB:
    def test_routing_and_pruning(self, spark):
        lines = fixtures.gen_cdc_envelopes()
        from gmall_flink_210726_spark.sources.cdc import parse_cdc_lines

        raw = spark.createDataFrame([(line,) for line in lines], ["value"])
        cdc = parse_cdc_lines(raw)
        routed = apps.base_db_app(cdc, fixtures.TABLE_PROCESS_RULES)
        orders, details, payments = fixtures.gen_business_rows()
        assert routed["dwd_order_info"].count() == len(orders)  # deletes+updates excluded (insert route)
        assert routed["dwd_order_detail"].count() == len(details)
        assert routed["dwd_payment_info"].count() == len(payments)
        # column pruning per sink_columns config
        assert routed["dwd_order_info"].columns == [
            "id", "province_id", "user_id", "total_amount", "create_time"
        ]

    def test_deletes_filtered(self, spark):
        lines = fixtures.gen_cdc_envelopes()
        from gmall_flink_210726_spark.sources.cdc import parse_cdc_lines

        raw = spark.createDataFrame([(line,) for line in lines], ["value"])
        cdc = parse_cdc_lines(raw)
        assert cdc.filter(F.col("type") == "delete").count() == 3
        alive = cdc.filter(F.col("type") != "delete")
        assert alive.count() == cdc.count() - 3


class TestDwsApps:
    def test_visitor_stats_invariants(self, log_branches):
        page = log_branches["page"]
        uv = apps.unique_visit_app(page)
        uj = apps.user_jump_detail_app(page)
        vs = apps.visitor_stats_app(page, uv, uj, now_ms=NOW_MS).cache()
        sums = vs.agg(
            F.sum("pv_ct").alias("pv"), F.sum("uv_ct").alias("uv"), F.sum("uj_ct").alias("uj"),
            F.sum("sv_ct").alias("sv"), F.sum("dur_sum").alias("dur"),
        ).first()
        assert sums.pv == page.count()
        assert sums.uv == uv.count()
        assert sums.uj == uj.count()
        assert sums.sv == page.filter(F.col("page.last_page_id").isNull()).count()
        # fixed clock stamped on every row
        assert vs.filter(F.col("ts") != NOW_MS).count() == 0
        # 10 s window bounds
        row = vs.first()
        assert row.stt <= row.edt

    def test_keyword_stats(self, log_branches):
        ks = apps.keyword_stats_app(log_branches["page"], now_ms=NOW_MS).cache()
        assert ks.count() > 0
        # tokenizer splits multi-word keywords: every keyword is one token
        assert ks.filter(F.col("keyword").contains(" ")).count() == 0
        assert ks.filter(F.col("source") != "search").count() == 0

    def test_keyword_stats_batch_plan_has_no_watermark(self, log_branches):
        """The app sets the streaming watermark itself; one function can
        serve both modes only because a batch plan does not keep it."""
        ks = apps.keyword_stats_app(log_branches["page"], now_ms=NOW_MS)
        assert "EventTimeWatermark" not in ks._jdf.queryExecution().optimizedPlan().toString()

    def test_product_stats_invariants(self, spark, log_branches, business):
        wide = apps.order_wide_app(business["orders"], business["details"], business["dims"])
        pw = apps.payment_wide_app(business["payments"], wide)
        empty_cart = spark.createDataFrame([], "sku_id long, create_time string")
        empty_favor = spark.createDataFrame([], "sku_id long, create_time string")
        empty_refund = spark.createDataFrame([], "order_id long, sku_id long, refund_amount decimal(16,2), create_time string")
        empty_comment = spark.createDataFrame([], "sku_id long, appraise string, create_time string")
        ps = apps.product_stats_app(
            log_branches["display"], log_branches["page"], wide, pw,
            empty_cart, empty_favor, empty_refund, empty_comment,
            now_ms=NOW_MS,
        ).cache()
        clicks = log_branches["page"].filter(
            (F.col("page.page_id") == "good_detail") & (F.col("page.item_type") == "sku_id")
        ).count()
        displays = log_branches["display"].filter(F.col("item_type") == "sku_id").count()
        got = ps.agg(F.sum("click_ct").alias("c"), F.sum("display_ct").alias("d")).first()
        assert got.c == clicks
        assert got.d == displays
        # distinct order count never exceeds detail-row count in window
        bad = ps.filter(F.col("order_ct") > F.col("order_sku_num") + F.col("order_ct")).count()
        assert bad == 0

    def test_province_stats(self, business):
        wide = apps.order_wide_app(business["orders"], business["details"], business["dims"])
        ps = apps.province_stats_app(wide, now_ms=NOW_MS).cache()
        # every output row carries a resolved province and the fixed clock
        assert ps.filter(F.col("province_name").isNull()).count() == 0
        assert ps.filter(F.col("ts") != NOW_MS).count() == 0
        # distinct order counts sum to at least the number of provinces seen
        assert ps.agg(F.sum("order_count")).first()[0] >= ps.select("province_id").distinct().count()
