"""Catalog of registered queries: one entry per implemented SURVEY §2 operator.

Each registration pairs an idiomatic-Spark DataFrame builder with its ANSI
SQL oracle (run by the driver on DuckDB over the same parquet). See
registry.py for the determinism conventions.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dexscraper_spark.functions.exact import (
    _cents_sql, avg_money, avg_money_sql, sum_money, sum_money_sql,
)
from dexscraper_spark.persist import get_or_build, materialize_artifact
from dexscraper_spark.plans.flagship import flagship_oracle_sql, flagship_top_revenue
from dexscraper_spark.plans.registry import register
from dexscraper_spark.session import tune_session


def _t(spark, sf_dir: str, name: str):
    from dexscraper_spark.sources.tables import load_table
    tune_session(spark)
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Flagship (SURVEY §7.1): filter DSL + join + agg + top-k in one pipe.
# ---------------------------------------------------------------------------

register("flagship_topk_revenue", flagship_oracle_sql(),
         survey_ref="F1,F2,T1,T2,A2,J5")(flagship_top_revenue)


# ---------------------------------------------------------------------------
# A1/A2 — batch stats & rollups (models.py:369-375, cli.py:458-471), in
# TPC-H Q1 shape: grouped sums/avgs/conditional counts over lineitem.
# ---------------------------------------------------------------------------

@register(
    "agg_pricing_summary",
    f"""
    SELECT l_returnflag,
           l_linestatus,
           {sum_money_sql('l_quantity', 2, 'sum_qty')},
           {sum_money_sql('l_extendedprice', 2, 'sum_base_price')},
           {sum_money_sql('l_extendedprice * (1.0 - l_discount)', 2, 'sum_disc_price')},
           {sum_money_sql('(l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)', 2, 'sum_charge')},
           {avg_money_sql('l_quantity', 2, 'avg_qty')},
           {avg_money_sql('l_extendedprice', 2, 'avg_price')},
           {avg_money_sql('l_discount', 4, 'avg_disc')},
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    survey_ref="A1,A2",
)
def agg_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    disc_price = price * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_money(F.col("l_quantity")).alias("sum_qty"),
            sum_money(price).alias("sum_base_price"),
            sum_money(disc_price).alias("sum_disc_price"),
            sum_money(charge).alias("sum_charge"),
            avg_money(F.col("l_quantity")).alias("avg_qty"),
            avg_money(price).alias("avg_price"),
            avg_money(F.col("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# A3 — frequency count + top-k (scraper.py:570-584): symbol occurrence
# counts sorted desc, top 20. On events.event_type.
# ---------------------------------------------------------------------------

@register(
    "agg_event_stats",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS occurrences,
           CAST(SUM(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS high_value,
           CAST(SUM(CASE WHEN value < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS low_value,
           """ + sum_money_sql("value", 2, "total_value") + """,
           """ + avg_money_sql("value", 2, "avg_value") + """
    FROM events
    GROUP BY event_type
    ORDER BY occurrences DESC, event_type ASC
    LIMIT 20
    """,
    survey_ref="A1,A2,A3,T3,F9",
)
def agg_event_stats(spark, sf_dir):
    """A1 batch stats + A3 frequency top-k in one grouped pass: conditional
    counts (high-confidence / complete analogs) and fixed-point rollups per
    event_type, ranked by frequency with a capped result (T3)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("occurrences"),
             F.sum(F.when(F.col("value") >= 100.0, 1).otherwise(0)).alias("high_value"),
             F.sum(F.when(F.col("value") < 1.0, 1).otherwise(0)).alias("low_value"),
             sum_money(F.col("value")).alias("total_value"),
             avg_money(F.col("value")).alias("avg_value"))
        .orderBy(F.col("occurrences").desc(), F.col("event_type").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# A5 — true windowed OHLC over the events stream table: 1-hour tumbling
# windows per event_type (ts returned as epoch seconds).
# ---------------------------------------------------------------------------

def _ohlc_frame_sql(frame: str, seconds: int) -> str:
    return f"""
    SELECT '{frame}' AS frame,
           event_type AS symbol,
           CAST(FLOOR(epoch(ts) / {seconds}) * {seconds} AS BIGINT) AS bucket_ts,
           arg_min(value, event_id) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, event_id) AS close,
           """ + sum_money_sql("value", 6, "volume") + """,
           CAST(COUNT(*) AS BIGINT) AS trades
    FROM events
    GROUP BY 1, 2, 3
    """


@register(
    "ohlc_bars",
    " UNION ALL ".join(_ohlc_frame_sql(n, s) for n, s in
                       (("m5", 300), ("h1", 3600),
                        ("h6", 21600), ("h24", 86400))),
    survey_ref="A5,R5",
)
def ohlc_bars(spark, sf_dir):
    """A5 × Timeframe: the full R5 m5/h1/h6/h24 frame vocabulary in one
    frame-tagged result, computed as a hierarchical rollup cascade — the
    raw events aggregate ONCE at m5 and every coarser frame rolls up from
    the finest level in one exploded groupBy (see ohlc_windowed_frames /
    ohlc_frames_from_partials for the bit-exactness argument). The DuckDB oracle computes each frame
    directly from the raw events, so the driver check proves
    cascade ≡ direct. The result is memoized per (appId, sf_dir) as a
    materialized artifact (persist kind "ohlc_bars", the same pattern as
    the sink layer's "bars"): the bar frame is bounded by bar count —
    symbols × buckets, orders of magnitude below tick count at any
    scale — and it feeds repeated reads, so repeated runs are an artifact
    scan instead of re-running the rollup cascade."""
    def build():
        from dexscraper_spark.config import Timeframe
        from dexscraper_spark.operators.ohlc import ohlc_windowed_frames
        ev = _t(spark, sf_dir, "events")
        bars = ohlc_windowed_frames(
            ev, symbol_col="event_type", ts_col="ts", price_col="value",
            qty_col="value", order_col="event_id",
            frames=tuple((tf.value, tf.seconds)
                         for tf in (Timeframe.M5, Timeframe.H1,
                                    Timeframe.H6, Timeframe.H24)),
        )
        # lineage-truncated artifact: warm reads of a plain cached frame
        # re-analyze the whole cascade lineage per call (sinks_catalog
        # _bars has the same rationale + deterministic release)
        return materialize_artifact(
            bars.withColumn("bucket_ts", F.col("bucket_ts").cast("long")),
            "ohlcbars")
    return get_or_build(spark, "ohlc_bars", sf_dir, build)


# ---------------------------------------------------------------------------
# F1/F2 — the Filters range-DSL compiled to a pushed-down predicate,
# retargeted at lineitem (the same compiler the tokens pipeline uses).
# Oracle SQL is rendered by the SAME compiler (Filters.to_sql) — one source
# of truth for both engines.
# ---------------------------------------------------------------------------

_DSL_MAP = {"liquidity": "l_extendedprice", "txns_h24": "l_quantity",
            "price_change_h24": "l_discount"}
def _register_filter_dsl():
    from dexscraper_spark.config import Filters
    f = Filters(liquidity_min=20_000.0, liquidity_max=50_000.0,
                txns_h24_min=10, txns_h24_max=30,
                price_change_h24_min=0.02, price_change_h24_max=0.08)
    sql = f"""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        FROM lineitem
        WHERE {f.to_sql(_DSL_MAP)}
    """

    @register("filter_range_dsl", sql, survey_ref="F1,S2")
    def filter_range_dsl(spark, sf_dir):
        li = _t(spark, sf_dir, "lineitem")
        return li.filter(f.to_column(_DSL_MAP)).select(
            "l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount")


_register_filter_dsl()


# ---------------------------------------------------------------------------
# F4 — float validity heuristic (finite, 1e-15<|v|<1e15, not 0/±1).
# ---------------------------------------------------------------------------

_CLASSIFY_CASE = """CASE
             WHEN {v} IS NULL OR isnan({v}) THEN 'invalid'
             WHEN {v} >= 1e-6 AND {v} <= 0.1 THEN 'price'
             WHEN {v} >= 10.0 AND {v} <= 50000.0 AND {v} = floor({v}) THEN 'txns'
             WHEN {v} >= 10.0 AND {v} <= 15000.0 AND {v} = floor({v}) THEN 'makers'
             WHEN {v} >= 1e5 AND {v} <= 1e7 THEN 'volume'
             WHEN {v} >= 1e4 AND {v} <= 1e6 THEN 'liquidity'
             WHEN {v} >= 1e5 AND {v} <= 5e7 THEN 'market_cap'
             WHEN {v} >= -100.0 AND {v} <= 1000.0 THEN 'percentage'
             ELSE 'other'
           END"""


@register(
    "filter_suite",
    f"""
    WITH suite AS (
        SELECT event_id, value,
               CASE WHEN event_id % 7 = 0 THEN NULL
                    WHEN event_id % 7 = 1 THEN CAST('NaN' AS DOUBLE)
                    WHEN event_id % 7 = 2 THEN 0.0
                    WHEN event_id % 7 = 3 THEN 1.0
                    WHEN event_id % 7 = 4 THEN -1.0
                    ELSE value END AS dirty
        FROM events
        WHERE value IS NOT NULL AND NOT isnan(value) AND NOT isinf(value)
          AND abs(value) > 1e-15 AND abs(value) < 1e15
          AND value <> 0.0 AND value <> 1.0 AND value <> -1.0
    )
    SELECT event_id, value,
           {_CLASSIFY_CASE.format(v='value')} AS value_class,
           CAST(CASE WHEN value > 0.0 AND value <= 1e6
                          AND value * 1000.0 >= 0.0 AND value * 1000.0 <= 1e12
                THEN 1 ELSE 0 END AS INT) AS trading_valid,
           {_CLASSIFY_CASE.format(v='dirty')} AS dirty_class,
           CAST(CASE WHEN dirty IS NOT NULL AND NOT isnan(dirty)
                          AND NOT isinf(dirty)
                          AND abs(dirty) > 1e-15 AND abs(dirty) < 1e15
                          AND dirty <> 0.0 AND dirty <> 1.0 AND dirty <> -1.0
                THEN 1 ELSE 0 END AS INT) AS dirty_valid
    FROM suite
    """,
    survey_ref="F4,F5,F7,W6",
)
def filter_suite(spark, sf_dir):
    """The row-level validation family in one pass: F4 float-validity as a
    real WHERE (pushed to the scan), F7 first-match-wins range
    classification, F5 trading validation (price ∈ (0, 1e6], volume ∈
    [0, 1e12]) as a flag over the surviving rows. The ``dirty`` lanes run
    classification and validity over a synthesized NULL/NaN/0/±1 mix so
    the 'invalid' branch and the sentinel exclusions — unreachable through
    rows the WHERE admits — stay oracle-verified."""
    from dexscraper_spark.functions.validity import (
        classify_value, is_valid_float, is_valid_trading_data)
    ev = _t(spark, sf_dir, "events")
    eid = F.col("event_id")
    dirty = (F.when(eid % 7 == 0, F.lit(None).cast("double"))
              .when(eid % 7 == 1, F.lit(float("nan")))
              .when(eid % 7 == 2, F.lit(0.0))
              .when(eid % 7 == 3, F.lit(1.0))
              .when(eid % 7 == 4, F.lit(-1.0))
              .otherwise(F.col("value")))
    return ev.filter(is_valid_float(F.col("value"))).select(
        "event_id", "value",
        classify_value(F.col("value")).alias("value_class"),
        is_valid_trading_data(F.col("value"), F.col("value") * 1000.0)
        .cast("int").alias("trading_valid"),
        classify_value(dirty).alias("dirty_class"),
        is_valid_float(dirty).cast("int").alias("dirty_valid"),
    )


# ---------------------------------------------------------------------------
# §2.11 date/time + map/json — epoch/format math (MT5 timestamp format,
# K5) and JSON extraction from the events props payload, as one
# lane-tagged suite (consolidated from r4's scalar_datetime +
# scalar_json to free a driver-cap slot for curation_pipeline —
# COVERAGE.md).
# ---------------------------------------------------------------------------

@register(
    "scalar_misc_suite",
    """
    SELECT 'datetime' AS lane,
           CAST(o_orderkey AS VARCHAR) AS key,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
           strftime(o_orderdate, '%Y.%m.%d %H:%M:%S') AS mt5_ts,
           CAST(NULL AS BIGINT) AS k_sum,
           CAST(NULL AS BIGINT) AS k_distinct
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
    UNION ALL
    SELECT 'json' AS lane,
           event_type AS key,
           CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BIGINT),
           CAST(NULL AS VARCHAR),
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_distinct
    FROM events
    GROUP BY event_type
    """,
    survey_ref="K5,§2.11-datetime,§2.11-json",
)
def scalar_misc_suite(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    dt = (
        o.filter((F.col("o_orderdate") >= F.lit("1997-01-01"))
                 & (F.col("o_orderdate") < F.lit("1997-04-01")))
        .select(
            F.lit("datetime").alias("lane"),
            F.col("o_orderkey").cast("string").alias("key"),
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
            F.col("o_orderdate").cast("timestamp").cast("long").alias("epoch_s"),
            F.date_format("o_orderdate", "yyyy.MM.dd HH:mm:ss").alias("mt5_ts"),
            F.lit(None).cast("long").alias("k_sum"),
            F.lit(None).cast("long").alias("k_distinct"),
        )
    )
    ev = _t(spark, sf_dir, "events")
    # hoist the JSON parse into a projection: referencing the extract
    # expression from both aggregates would parse the props string twice
    # per row
    k = F.get_json_object("props", "$.k").cast("long").alias("k")
    js = (
        ev.select("event_type", k)
        .groupBy("event_type")
        .agg(F.sum("k").alias("k_sum"),
             F.count_distinct("k").alias("k_distinct"))
        .select(
            F.lit("json").alias("lane"),
            F.col("event_type").alias("key"),
            F.lit(None).cast("int").alias("order_year"),
            F.lit(None).cast("int").alias("order_month"),
            F.lit(None).cast("long").alias("epoch_s"),
            F.lit(None).cast("string").alias("mt5_ts"),
            "k_sum", "k_distinct",
        )
    )
    return dt.unionByName(js)


# ---------------------------------------------------------------------------
# J5 + A2 — multi-way equi-join with broadcast dims: revenue per nation.
# nation/region are tiny → broadcast hash join, no shuffle of the fact side
# beyond the customer join.
# ---------------------------------------------------------------------------

@register(
    "join_revenue_by_nation",
    f"""
    SELECT n_name AS nation, r_name AS region,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sum_money_sql('o_totalprice', 2, 'revenue')}
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name
    ORDER BY nation
    """,
    survey_ref="J5,A2",
)
def join_revenue_by_nation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             sum_money(F.col("o_totalprice")).alias("revenue"))
        .orderBy("nation")
    )


# ---------------------------------------------------------------------------
# J1 — range (proximity) join via the band-join trick: purchase × click
# events of the same user within ±10 minutes, on exact microsecond ints.
# ---------------------------------------------------------------------------

_PROX_RADIUS_US = 600 * 1_000_000


@register(
    "join_range_proximity",
    f"""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           CAST(abs(epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP))) AS BIGINT) AS dist_us
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND abs(epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP))) <= {_PROX_RADIUS_US}
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    survey_ref="J1,J4",
)
def join_range_proximity(spark, sf_dir):
    from dexscraper_spark.operators.proximity import band_range_join
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), us.alias("p_us"), "user_id")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), us.alias("c_us"), "user_id")
    joined = band_range_join(p, c, left_pos="p_us", right_pos="c_us",
                             radius=_PROX_RADIUS_US, keys=["user_id"])
    return joined.select(
        "purchase_id", "click_id",
        F.abs(F.col("p_us") - F.col("c_us")).cast("long").alias("dist_us"))


# ---------------------------------------------------------------------------
# J2/W1 — nearest-neighbor pick: the closest click per purchase within the
# radius (rank by distance with a deterministic total order).
# ---------------------------------------------------------------------------

@register(
    "join_nearest_click",
    f"""
    SELECT purchase_id, click_id, dist_us FROM (
        SELECT p.event_id AS purchase_id, c.event_id AS click_id,
               CAST(abs(epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP))) AS BIGINT) AS dist_us,
               row_number() OVER (
                 PARTITION BY p.event_id
                 ORDER BY abs(epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP))),
                          epoch_us(CAST(c.ts AS TIMESTAMP)), c.event_id
               ) AS rn
        FROM events p
        JOIN events c
          ON p.user_id = c.user_id
         AND abs(epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP))) <= {_PROX_RADIUS_US}
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    ) WHERE rn = 1
    """,
    survey_ref="J2,W1",
)
def join_nearest_click(spark, sf_dir):
    from dexscraper_spark.operators.proximity import nearest_join
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), us.alias("p_us"), "user_id")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), us.alias("c_us"), "user_id")
    nearest = nearest_join(p, c, left_key="purchase_id", left_pos="p_us",
                           right_pos="c_us", radius=_PROX_RADIUS_US,
                           keys=["user_id"], tiebreak="click_id")
    return nearest.select("purchase_id", "click_id",
                          F.col("distance").cast("long").alias("dist_us"))


# ---------------------------------------------------------------------------
# As-of join — the proximity family's unbounded-lookback companion: each
# purchase picks up the LATEST click at-or-before it per user (left-outer,
# no radius). Executes with NO join node: tag-union + one per-key window
# (operators/asof.py). Greater click_id wins equal-time ties.
# ---------------------------------------------------------------------------

@register(
    "join_asof_click",
    """
    SELECT p.event_id AS purchase_id, m.click_id, m.click_us
    FROM events p LEFT JOIN (
        SELECT purchase_id, click_id, click_us FROM (
            SELECT p2.event_id AS purchase_id, c.event_id AS click_id,
                   CAST(epoch_us(CAST(c.ts AS TIMESTAMP)) AS BIGINT) AS click_us,
                   row_number() OVER (
                     PARTITION BY p2.event_id
                     ORDER BY epoch_us(CAST(c.ts AS TIMESTAMP)) DESC,
                              c.event_id DESC) AS rn
            FROM events p2 JOIN events c
              ON p2.user_id = c.user_id
             AND epoch_us(CAST(c.ts AS TIMESTAMP)) <= epoch_us(CAST(p2.ts AS TIMESTAMP))
            WHERE p2.event_type = 'purchase' AND c.event_type = 'click'
        ) WHERE rn = 1
    ) m ON p.event_id = m.purchase_id
    WHERE p.event_type = 'purchase'
    """,
    survey_ref="J2-asof,northstar-asof",
)
def join_asof_click(spark, sf_dir):
    from dexscraper_spark.operators.asof import asof_join
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), us.alias("p_us"), "user_id")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", us.alias("c_us"), F.col("event_id").alias("click_id"))
    return asof_join(
        p, c, keys=["user_id"], left_time="p_us", right_time="c_us",
        payload=["click_id"], tiebreak="click_id",
        matched_time_col="click_us",
    ).select("purchase_id", "click_id", "click_us")


# ---------------------------------------------------------------------------
# W2 — global rank numbering (CoinGecko market_cap_rank analog).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# A6/W4 — sessionization: lag → gap flag → cumulative session id, 30-minute
# inactivity gap per user; one row per user with session stats.
# ---------------------------------------------------------------------------

_SESSION_GAP_US = 1800 * 1_000_000


@register(
    "sessionize_users",
    f"""
    WITH stamped AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, us,
               CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
                         > {_SESSION_GAP_US}
                    OR lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM stamped
    ), sessions AS (
        SELECT user_id,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    ), per_session AS (
        SELECT user_id, session_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM sessions GROUP BY user_id, session_id
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events,
           CAST(SUM(n_events) AS BIGINT) AS total_events
    FROM per_session GROUP BY user_id
    """,
    survey_ref="A6,W4",
)
def sessionize_users(spark, sf_dir):
    from dexscraper_spark.operators.sessionize import sessionize
    ev = _t(spark, sf_dir, "events")
    stamped = ev.select("user_id", "event_id",
                        F.unix_micros(F.col("ts")).alias("us"))
    # ordered by us alone; ties are harmless — tied rows get the same
    # session id whichever sorts first (delta 0 never opens a session)
    sess = sessionize(stamped, partition_cols=["user_id"], order_col="us",
                      gap=float(_SESSION_GAP_US))
    per_session = (sess.groupBy("user_id", "session_id")
                   .agg(F.count(F.lit(1)).alias("n_events")))
    return (
        per_session.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"),
             F.max("n_events").alias("max_session_events"),
             F.sum("n_events").alias("total_events"))
    )


# ---------------------------------------------------------------------------
# W5 — bounded-rows sliding frame: last-3 moving sum per user (DataBuffer
# analog), exact via fixed-point cents.
# ---------------------------------------------------------------------------

@register(
    "window_moving_sum",
    f"""
    SELECT event_id,
           (SUM({_cents_sql('value', 2)}) OVER (
                PARTITION BY user_id ORDER BY event_id
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100.0) AS mov3_sum
    FROM events
    """,
    survey_ref="W5,R7",
)
def window_moving_sum(spark, sf_dir):
    from pyspark.sql import Window
    from dexscraper_spark.functions.exact import cents
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id").rowsBetween(-2, 0)
    return ev.select(
        "event_id",
        (F.sum(cents(F.col("value"))).over(w) / 100.0).alias("mov3_sum"))


# ---------------------------------------------------------------------------
# W6/A4 — per-group first/last-wins slotting via min_by/max_by.
# ---------------------------------------------------------------------------

@register(
    "window_first_wins",
    """
    SELECT user_id, event_type,
           arg_min(value, event_id) AS first_value,
           arg_max(value, event_id) AS last_value,
           MAX(value) AS max_value,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY user_id, event_type
    """,
    survey_ref="W6,A4",
)
def window_first_wins(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.min_by("value", "event_id").alias("first_value"),
             F.max_by("value", "event_id").alias("last_value"),
             F.max("value").alias("max_value"),
             F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# U1/U4 — union of extraction passes + distinct.
# ---------------------------------------------------------------------------

@register(
    "set_ops",
    """
    SELECT 'union' AS op, user_id, NULL AS event_type FROM (
        SELECT user_id FROM events WHERE event_type = 'click'
        UNION
        SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    UNION ALL
    SELECT 'except' AS op, user_id, NULL AS event_type FROM (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
        EXCEPT
        SELECT user_id FROM events
        WHERE event_type = 'purchase' AND user_id % 3 <> 0
    )
    UNION ALL
    SELECT 'distinct' AS op, user_id, event_type
    FROM (SELECT DISTINCT user_id, event_type FROM events)
    """,
    survey_ref="U1,U3,U4,F10,J5,A8",
)
def set_ops(spark, sf_dir):
    """The set-operator family in one tagged result:
    * `union`    — U1/U4 distinct union of two filtered passes;
    * `except`   — U3/F10 blacklist anti-join. The broadcast side is the
      blacklist (purchasing users outside the user_id%3==0 cohort — the
      cohort carve-out keeps the result non-empty so the anti-join is
      actually exercised); at scale the big side never shuffles.
    * `distinct` — A8/U4 exact dedup over (user_id, event_type) pairs via
      the dedup_exact operator.
    """
    from dexscraper_spark.operators.dedup import dedup_exact
    ev = _t(spark, sf_dir, "events")
    null_et = F.lit(None).cast("string").alias("event_type")

    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id")
    union = clicks.unionByName(purchases).distinct() \
        .select(F.lit("union").alias("op"), "user_id", null_et)

    err = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    blacklist = ev.filter((F.col("event_type") == "purchase")
                          & (F.col("user_id") % 3 != 0)).select("user_id")
    except_ = err.join(F.broadcast(blacklist), "user_id", "left_anti") \
        .select(F.lit("except").alias("op"), "user_id", null_et)

    pairs = dedup_exact(ev.select("user_id", "event_type"),
                        ["user_id", "event_type"]) \
        .select(F.lit("distinct").alias("op"), "user_id", "event_type")

    return union.unionByName(except_).unionByName(pairs)


# ---------------------------------------------------------------------------
# T1 — top-k with the reference's exact tie-breaking, on customer balances.
# ---------------------------------------------------------------------------

@register(
    "topk_customers",
    """
    SELECT c_custkey, c_name, c_acctbal,
           CAST(row_number() OVER (ORDER BY c_acctbal DESC, c_custkey ASC)
                AS BIGINT) AS balance_rank
    FROM customer
    ORDER BY balance_rank
    LIMIT 100
    """,
    survey_ref="T1,T3,W2,K8",
)
def topk_customers(spark, sf_dir):
    """T1 top-k with the reference's tie-breaking, plus the W2 global rank
    column. Scale shape: TakeOrderedAndProject (per-partition heaps) bounds
    the frame to k rows FIRST, then the single-partition rank window runs
    over only those k — ranks 1..k equal the global ranks by construction,
    and the unbounded global sort W2 would naively need never happens."""
    from pyspark.sql import Window
    from dexscraper_spark.operators.topk import top_k
    c = _t(spark, sf_dir, "customer")
    top = top_k(c.select("c_custkey", "c_name", "c_acctbal"), 100,
                F.col("c_acctbal").desc_nulls_last(), F.col("c_custkey").asc())
    w = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return top.withColumn("balance_rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Catalyst-free extension (SURVEY §2.5 note): ROLLUP grouping sets.
# ---------------------------------------------------------------------------

@register(
    "agg_rollup",
    """
    SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    survey_ref="§2.5-extension",
)
def agg_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# A5 compat — the reference's degenerate snapshot OHLC projection
# (models.py:253-264): o=c=p, h=1.02p, l=0.98p, trades=floor(v/1000).
# ---------------------------------------------------------------------------

@register(
    "ohlc_snapshot_compat",
    """
    SELECT event_type AS symbol,
           CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
           event_id,
           value AS open,
           value * 1.02 AS high,
           value * 0.98 AS low,
           value AS close,
           value * 1000.0 AS volume,
           CAST(FLOOR(value * 1000.0 / 1000.0) AS BIGINT) AS trades
    FROM events
    """,
    survey_ref="A5-compat,K4",
)
def ohlc_snapshot_compat(spark, sf_dir):
    from dexscraper_spark.operators.ohlc import ohlc_snapshot
    ev = _t(spark, sf_dir, "events")
    tokens_view = ev.select(
        F.col("event_type").alias("symbol"),
        F.floor(F.unix_micros(F.col("ts")) / 1_000_000.0).cast("long").alias("snap_ts"),
        "event_id",
        F.col("value").alias("price"),
        (F.col("value") * 1000.0).alias("volume_24h"),
    )
    bars = ohlc_snapshot(tokens_view, price_col="price", volume_col="volume_24h",
                         ts_col="snap_ts", symbol_col="symbol",
                         carry_cols=("event_id",))
    return bars.withColumnRenamed("ts", "ts_s")


# ---------------------------------------------------------------------------
# Text analysis (north-star training-data ops): per-document stats.
# All ratios are single divisions of exact ints — engine-portable bits.
# ---------------------------------------------------------------------------

@register(
    "text_metrics",
    """
    WITH t AS (
        SELECT doc_id, n_chars, text, length(text) AS n,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> length(x) > 0) AS ws,
               list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'),
                           p -> length(p) > 0) AS ps
        FROM documents
    ), feats AS (
        SELECT doc_id, n_chars, n, ws, ps,
               CASE WHEN n > 0
                    THEN CAST(n - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                         / CAST(n AS DOUBLE)
                    ELSE 0.0 END AS punct_ratio,
               CASE WHEN len(ws) > 0
                    THEN CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                         / CAST(len(ws) AS DOUBLE)
                    ELSE 0.0 END AS atl,
               CAST(COALESCE(list_sum(list_transform(ps,
                    p -> greatest(CAST(ceil(length(p) / 4.0) AS INT), 1))), 0)
                    + (n - length(regexp_replace(text, '[^\\sA-Za-z0-9]', '', 'g')))
                    AS INT) AS n_bpe_tokens
        FROM t
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n AS BIGINT) AS measured_chars,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           atl AS avg_token_len,
           punct_ratio,
           n_bpe_tokens,
           CASE WHEN n IS NULL THEN 0.0 ELSE least(greatest(
             (CASE WHEN n < 50 THEN CAST(n AS DOUBLE) / 50.0
                   WHEN n > 20000 THEN 0.25 ELSE 1.0 END) * 0.4
             + (1.0 - least(punct_ratio * 2.0, 1.0)) * 0.3
             + (CASE WHEN atl >= 3.0 AND atl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3,
             0.0), 1.0) END AS quality
    FROM feats
    """,
    survey_ref="northstar-text,F12,A7",
)
def text_metrics(spark, sf_dir):
    """The per-document text-analysis family in one scan: length/token
    stats, whitespace + BPE-ish token counts, punctuation ratio, and the
    blended quality score — computed in ONE Arrow pass
    (:func:`~dexscraper_spark.functions.textstats.text_metrics_arrow`,
    r12 change #9): the token/piece folds are HOF expressions whose
    lambdas evaluate interpreted per element, and the kernel computes
    the whole family per batch, bit-identically (guide §4.2; pinned by
    ``test_text_metrics_arrow_matches_exprs`` + this row's oracle).
    Unlike the curation gate, no payload crosses back — the output is
    metrics-only. The layered expression form below
    (:func:`_text_metrics_exprs`) remains the equivalence reference."""
    from dexscraper_spark.functions import textstats as tx
    return tx.text_metrics_arrow(_t(spark, sf_dir, "documents"))


def _text_metrics_exprs(docs):
    """Pure-expression text_metrics (pre-r12-#9 registered form, kept as
    the pinned equivalence reference): layered projections share the
    expensive intermediates (the token array, the word-piece array, the
    punctuation count) — the one-select form re-ran
    ``split``/``regexp_replace`` once per output column because HOF
    lambdas defeat Spark's subexpression elimination — measured ~40% of
    the whole query on the repeated regex work. Same arithmetic in the
    same order as the oracle's CTE form."""
    from dexscraper_spark.functions import textstats as tx
    text = F.col("text")
    shared = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.length(text).cast("long").alias("measured_chars"),
        tx.tokens(text).alias("__ws"),
        F.filter(F.split(text, r"[^A-Za-z0-9]+"),
                 lambda t: F.length(t) > 0).alias("__ps"),
        (F.length(text)
         - F.length(F.regexp_replace(text, r"[^A-Za-z0-9\s]", "")))
        .alias("__punct"),
    )
    n = F.col("measured_chars")
    atl = F.when(F.size("__ws") > 0,
                 F.aggregate("__ws", F.lit(0), lambda a, x: a + F.length(x))
                 .cast("double") / F.size("__ws").cast("double")) \
           .otherwise(F.lit(0.0))
    punct_ratio = F.when(n > 0, F.col("__punct").cast("double")
                         / n.cast("double")).otherwise(F.lit(0.0))
    subword = F.aggregate(
        "__ps", F.lit(0),
        lambda acc, p: acc + F.greatest(
            F.ceil(F.length(p) / 4.0).cast("int"), F.lit(1)))
    feats = shared.select(
        "doc_id", "n_chars", "measured_chars",
        F.size("__ws").cast("long").alias("n_tokens"),
        atl.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        (subword + F.col("__punct")).cast("int").alias("n_bpe_tokens"),
    )
    len_score = F.when(n < 50, n.cast("double") / 50.0) \
                 .when(n > 20000, F.lit(0.25)).otherwise(F.lit(1.0))
    # NULL-text guard mirrors the oracle's CASE WHEN n IS NULL (and
    # textstats.quality_score): without it the length CASE falls through
    # to the 1.0 branch and a missing document scores 0.85
    quality = F.when(F.col("measured_chars").isNull(), F.lit(0.0)) \
               .otherwise(F.least(F.greatest(
        len_score * 0.4
        + (F.lit(1.0) - F.least(F.col("punct_ratio") * 2.0, F.lit(1.0))) * 0.3
        + F.when((F.col("avg_token_len") >= 3.0)
                 & (F.col("avg_token_len") <= 10.0), 1.0).otherwise(0.5) * 0.3,
        F.lit(0.0)), F.lit(1.0)))
    return feats.select("*", quality.alias("quality"))


# ---------------------------------------------------------------------------
# Language ID (stopword argmax with priority tie-break) + distribution.
# ---------------------------------------------------------------------------

def _lang_hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in
                      __import__("dexscraper_spark.functions.textstats",
                                 fromlist=["STOPWORDS"]).STOPWORDS[lang])
    return (f"len(list_filter(list_filter(regexp_split_to_array(lower(text), '\\s+'), "
            f"t -> length(t) > 0), t -> t IN ({words})))")


def _register_lang_id():
    hits = {lang: _lang_hits_sql(lang) for lang in ("en", "es", "fr", "de")}
    gr = f"greatest({hits['en']}, {hits['es']}, {hits['fr']}, {hits['de']})"
    sql = f"""
        SELECT doc_id, lang AS labeled_lang,
               CASE WHEN text IS NULL OR {gr} = 0 THEN 'und'
                    WHEN {hits['en']} = {gr} THEN 'en'
                    WHEN {hits['es']} = {gr} THEN 'es'
                    WHEN {hits['fr']} = {gr} THEN 'fr'
                    ELSE 'de' END AS detected_lang,
               CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS lang_n_docs,
               CAST(SUM(n_chars) OVER (PARTITION BY lang) AS BIGINT)
                   AS lang_total_chars
        FROM documents
    """

    @register("text_lang", sql, survey_ref="northstar-text,A2")
    def text_lang(spark, sf_dir):
        """Language-ID (stopword-argmax n-gram heuristic) per document,
        plus the per-language corpus distribution (n_docs / total_chars)
        as window aggregates over the labeled language — the lang_id
        detector and the distribution rollup in one scan."""
        from pyspark.sql import Window
        from dexscraper_spark.functions.textstats import lang_id
        docs = _t(spark, sf_dir, "documents")
        w = Window.partitionBy("lang")
        return docs.select(
            "doc_id", F.col("lang").alias("labeled_lang"),
            lang_id(F.col("text")).alias("detected_lang"),
            F.count(F.lit(1)).over(w).cast("long").alias("lang_n_docs"),
            F.sum("n_chars").over(w).cast("long").alias("lang_total_chars"),
        )


_register_lang_id()


# ---------------------------------------------------------------------------
# Exact dedup (north-star + A8): one survivor per distinct content hash.
# ---------------------------------------------------------------------------

@register(
    "dedup_exact_docs",
    """
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    survey_ref="A8,northstar-dedup",
)
def dedup_exact_docs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("first_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Document fingerprinting (north star): 64-bit content id per doc over the
# normalized 30-char prefix (prefix fingerprint — catches shared-boilerplate
# leads); docs sharing a fingerprint form dup groups. Oracle equivalence:
# xxhash64 is injective on the distinct prefixes present, so grouping by
# fingerprint == grouping by prefix (which DuckDB can do directly). The
# 30-char key makes the result non-trivial at sf0.01 (23 collision groups).
# ---------------------------------------------------------------------------

@register(
    "text_fingerprint_dups",
    """
    WITH keys AS (
        SELECT doc_id, substr(lower(trim(text)), 1, 30) AS k FROM documents
    ), groups AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS group_size
        FROM keys GROUP BY k
    )
    SELECT d.doc_id, g.group_size
    FROM keys d JOIN groups g USING (k)
    WHERE g.group_size > 1
    """,
    survey_ref="northstar-text,A8",
)
def text_fingerprint_dups(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    key = F.substring(F.lower(F.trim(F.col("text"))), 1, 30)
    fps = docs.select("doc_id", F.xxhash64(key).alias("fp"))
    groups = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("group_size"))
    return (
        fps.join(groups, "fp")
        .filter(F.col("group_size") > 1)
        .select("doc_id", "group_size")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup pairs (north star): 16-bit band candidates → Hamming-
# verified. max_hamming=3 < num_bands=4 makes the banding COMPLETE
# (pigeonhole — fewer differing bits than bands forces some band to match
# exactly), so the banded plan's output EQUALS the exact all-pairs
# Hamming≤3 set — which is what the DuckDB oracle computes brute-force.
# Cross-engine fingerprints: shingles are hashed with the portable
# md5-le64 hash (≡ DuckDB md5_number_lower bit-for-bit), so both engines
# derive identical 64-bit fingerprints; only (id_a, id_b, hamming) rows
# cross the comparison boundary. The oracle is O(n²) — fine at the
# driver's sf0.01; the Spark side stays the linear-shuffle banded plan.
# ---------------------------------------------------------------------------

def _simhash_cte_sql(source: str = "documents", max_hamming: int = 3,
                     shingle_n: int = 3) -> str:
    """The sh/h/bits/pairs CTE chain computing exact all-pairs SimHash
    Hamming<=k over ``source`` (portable md5-le64 fingerprints) — shared
    by the dedup_simhash oracle and the curation-pipeline oracle so the
    fingerprint definition cannot drift between them."""
    ones = ",\n               ".join(
        f"SUM((hv >> {b}) & 1) AS o{b}" for b in range(64))
    ham = "\n               + ".join(
        f"(CASE WHEN (2*a.o{b} > a.n) != (2*b.o{b} > b.n) THEN 1 ELSE 0 END)"
        for b in range(64))
    return f"""
    sh AS (
        SELECT doc_id,
               list_distinct([substr(text, CAST(i AS INT), {shingle_n})
                              for i in range(1, greatest(length(text) - {shingle_n - 1}, 1) + 1)])
                   AS gs
        FROM {source}
    ), h AS (
        SELECT doc_id, md5_number_lower(g) AS hv
        FROM (SELECT doc_id, unnest(gs) AS g FROM sh)
    ), bits AS (
        SELECT doc_id, COUNT(*) AS n,
               {ones}
        FROM h GROUP BY doc_id
    ), pairs AS (
        SELECT id_a, id_b, hamming FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST({ham} AS INT) AS hamming
            FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        ) WHERE hamming <= {max_hamming}
    )"""


def _simhash_oracle_sql(max_hamming: int = 3, shingle_n: int = 3) -> str:
    return ("WITH " + _simhash_cte_sql("documents", max_hamming, shingle_n)
            + "\n    SELECT id_a, id_b, hamming FROM pairs")


@register("dedup_simhash", _simhash_oracle_sql(max_hamming=3),
          survey_ref="northstar-dedup,A8")
def dedup_simhash(spark, sf_dir):
    from dexscraper_spark.operators.dedup import md5_le64, simhash_near_pairs
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_pairs(docs, id_col="doc_id", text_col="text",
                              max_hamming=3, hash_fn=md5_le64) \
        .withColumn("hamming", F.col("hamming").cast("int")) \
        .orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Similarity search (north star): brute-force cosine top-5 for the first
# 10 vectors as queries. Dot/norm folds are sequential in both engines;
# cosine rounded half-up to 6 dp on both sides.
# ---------------------------------------------------------------------------

def _cos6_sql(x: str, y: str) -> str:
    """Guarded 6-dp cosine between two embedding table aliases — mirrors
    operators.similarity._safe_div: zero-norm vectors score 0."""
    def _n(v: str) -> str:
        return (f"sqrt(list_sum(list_transform(range(1, 65), "
                f"i -> CAST({v}.embedding[CAST(i AS INT)] AS DOUBLE)"
                f" * CAST({v}.embedding[CAST(i AS INT)] AS DOUBLE))))")
    dot = (f"list_sum(list_transform(range(1, 65), "
           f"i -> CAST({x}.embedding[CAST(i AS INT)] AS DOUBLE)"
           f" * CAST({y}.embedding[CAST(i AS INT)] AS DOUBLE)))")
    denom = f"({_n(x)} * {_n(y)})"
    raw = f"(CASE WHEN {denom} != 0.0 THEN {dot} / {denom} ELSE 0.0 END)"
    return f"FLOOR({raw} * 1000000.0 + 0.5) / 1000000.0"


@register(
    "similarity_topk",
    f"""
    WITH pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_cos6_sql('q', 'c')} AS cosine
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
        FROM pairs
    ) WHERE rn <= 5
    """,
    survey_ref="northstar-similarity",
)
def similarity_topk(spark, sf_dir):
    from dexscraper_spark.operators.similarity import cosine_topk
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    res = cosine_topk(emb, queries_df, id_col="vec_id", vec_col="embedding",
                      k=5, round_to=6)
    return res.select("query_id", "neighbor_id", "cosine",
                      F.col("rank").cast("int").alias("rank"))


# ---------------------------------------------------------------------------
# Embedding norms — zip_with/aggregate arithmetic sanity (rounded 6 dp).
# ---------------------------------------------------------------------------

@register(
    "embedding_norms",
    """
    SELECT vec_id, CAST(label AS INT) AS label,
           FLOOR(sqrt(list_sum(list_transform(range(1, 65),
               i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE)
                  * CAST(embedding[CAST(i AS INT)] AS DOUBLE)))) * 1000000.0 + 0.5)
             / 1000000.0 AS l2_norm,
           CAST(len(embedding) AS INT) AS dim
    FROM embeddings
    """,
    survey_ref="northstar-similarity",
)
def embedding_norms(spark, sf_dir):
    from dexscraper_spark.operators.similarity import _norm
    emb = _t(spark, sf_dir, "embeddings")
    norm = _norm(F.col("embedding"))
    return emb.select(
        "vec_id", F.col("label").cast("int").alias("label"),
        (F.floor(norm * 1_000_000.0 + F.lit(0.5)) / 1_000_000.0).alias("l2_norm"),
        F.size("embedding").cast("int").alias("dim"),
    )


# ---------------------------------------------------------------------------
# D1/S3-S5 — the binary decode kernel as a declared operator. Non-SQL-
# expressible (driver records a rows-only check): the input is synthetic
# wire-format frames generated deterministically, decoded by the engine's
# single pandas stage, then aggregated relationally.
# ---------------------------------------------------------------------------

@register(
    "decode_binary_pipeline",
    # Closed-form oracle: the synthetic frames are formulaic (16 frames x
    # 4 pairs; chain/protocol/volume depend only on the pair index j), and
    # struct-pack/unpack round-trips doubles losslessly, so the decoded
    # aggregate is computable without a decoder.
    f"""
    WITH pairs AS (
        SELECT f.i AS msg_id, j.j AS j
        FROM range(0, 16) f(i), range(0, 4) j(j)
    ), rows_in AS (
        SELECT CASE WHEN j % 2 = 0 THEN 'solana' ELSE 'base' END AS chain,
               CASE CAST(j AS INT) WHEN 0 THEN 'pumpfun' WHEN 1 THEN 'raydium'
                    WHEN 2 THEN 'orca' ELSE 'meteora' END AS protocol,
               CAST(1000000.5 AS DOUBLE) + 500.0 * j AS volume_h24
        FROM pairs
    )
    SELECT chain, protocol, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {{sum_vol}} AS total_volume
    FROM rows_in GROUP BY chain, protocol
    ORDER BY chain, protocol
    """.format(sum_vol=sum_money_sql("volume_h24", 2)),
    survey_ref="D1,S3,S4,S5,F3,F6",
)
def decode_binary_pipeline(spark, sf_dir):
    import pandas as pd
    from dexscraper_spark.sources.binary import make_frame, sample_pairs
    from dexscraper_spark.sources.decode import decode_messages
    tune_session(spark)
    # Arrow (pandas) ingestion + one partition: the row-pickle local-
    # relation path costs ~5 s per action for binary columns; the Arrow
    # path is ~10x faster and is what a real source would produce anyway.
    pdf = pd.DataFrame({
        "msg_id": range(16),
        "payload": [make_frame(sample_pairs(4, seed=i)) for i in range(16)],
    })
    raw = spark.createDataFrame(pdf).coalesce(1)
    decoded = decode_messages(raw)
    return (
        decoded.groupBy("chain", "protocol")
        .agg(F.count(F.lit(1)).alias("n_pairs"),
             sum_money(F.col("volume_h24")).alias("total_volume"))
        .orderBy("chain", "protocol")
    )


# ---------------------------------------------------------------------------
# S1/S2 — the pushdown-capable Python DataSource end-to-end: Spark pushes
# EqualTo/GreaterThanOrEqual into the frame scan (PushedFilters in the
# plan, filtering inside the source partition — the engine-side analog of
# the reference's server-side URL pushdown, scraper.py:177-246,
# config.py:254-281). The synthetic frames are formulaic, so the decoded
# output is SQL-computable: the oracle derives the surviving record
# (pair index j=2 — the only solana pair with liquidity >= 51000) in
# closed form per frame. struct-pack/unpack is lossless, so doubles match
# bit-exact.
# ---------------------------------------------------------------------------

@register(
    "datasource_pushdown_scan",
    """
    SELECT i AS msg_id,
           'solana' AS chain,
           'orca' AS protocol,
           printf('PAIR%04d', 3 * (CAST(i % 13 AS INT) + 1))
               || repeat('x', 30) AS pair_address,
           'Token ' || CAST(3 * (i % 13 + 1) AS VARCHAR) AS base_token_name,
           printf('TK%02d', 3 * (CAST(i % 13 AS INT) + 1)) AS base_token_symbol,
           printf('MINT%04d', 3 * (CAST(i % 13 AS INT) + 1))
               || repeat('y', 30) AS base_token_address,
           CAST(0.000123 AS DOUBLE) * 3 AS price,
           CAST(0.000123 AS DOUBLE) * 3 AS price_usd,
           CAST(5.5 AS DOUBLE) * 3 AS price_change_h24,
           CAST(52000.0 AS DOUBLE) AS liquidity_usd,
           CAST(1001000.5 AS DOUBLE) AS volume_h24,
           CAST(5020000.0 AS DOUBLE) AS fdv,
           CAST(1756793296 AS BIGINT) AS created_at,
           CAST(1024 AS BIGINT) AS record_position
    FROM range(0, 32) t(i)
    """,
    survey_ref="S1,S2,D1",
)
def datasource_pushdown_scan(spark, sf_dir):
    from dexscraper_spark.sources.frame_source import register_frame_source
    tune_session(spark)
    register_frame_source(spark)
    return (
        spark.read.format("dexframes").option("n_frames", 32).load()
        .filter((F.col("chain") == "solana")
                & (F.col("liquidity_usd") >= 51000.0))
    )


# ---------------------------------------------------------------------------
# W3 — ordinal assignment pivot: the reference maps the 1st..4th percentage
# in record order onto change_5m/1h/6h/24h (scraper.py:1427-1436). Here:
# the first 4 values per user in event order pivot onto ordinal columns.
# ---------------------------------------------------------------------------

@register(
    "window_ordinal_pivot",
    """
    SELECT user_id,
           MAX(CASE WHEN rn = 1 THEN value END) AS change_5m,
           MAX(CASE WHEN rn = 2 THEN value END) AS change_1h,
           MAX(CASE WHEN rn = 3 THEN value END) AS change_6h,
           MAX(CASE WHEN rn = 4 THEN value END) AS change_24h
    FROM (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        FROM events
    ) WHERE rn <= 4
    GROUP BY user_id
    """,
    survey_ref="W3",
)
def window_ordinal_pivot(spark, sf_dir):
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    ranked = (ev.select("user_id", "value", F.row_number().over(w).alias("rn"))
              .filter(F.col("rn") <= 4))
    return ranked.groupBy("user_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("change_5m"),
        F.max(F.when(F.col("rn") == 2, F.col("value"))).alias("change_1h"),
        F.max(F.when(F.col("rn") == 3, F.col("value"))).alias("change_6h"),
        F.max(F.when(F.col("rn") == 4, F.col("value"))).alias("change_24h"),
    )


# ---------------------------------------------------------------------------
# A7/A9 — confidence scoring + field-count arithmetic as a query: derive
# (field_count, clusters, metadata) proxies per user, apply the exact
# reference formula (utils.py:258-286).
# ---------------------------------------------------------------------------

@register(
    "scoring_confidence",
    """
    WITH feat AS (
        SELECT user_id,
               CAST(COUNT(DISTINCT event_type) AS INT) AS field_count,
               CAST(SUM(CASE WHEN value >= 100 THEN 1 ELSE 0 END) AS INT) AS clusters,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS INT) AS metadata
        FROM events GROUP BY user_id
    )
    SELECT user_id, field_count, clusters, metadata,
           least(
             least(CAST(field_count AS DOUBLE) / 10.0, 0.5)
             + least(CAST(clusters AS DOUBLE) / 10.0, 0.3)
             + least(CAST(metadata AS DOUBLE) / 5.0, 0.2)
             + CASE WHEN field_count >= 5 AND clusters >= 3 AND metadata >= 1
                    THEN 0.1 ELSE 0.0 END,
             1.0) AS confidence_score
    FROM feat
    """,
    survey_ref="A7,A9,F8,F9",
)
def scoring_confidence(spark, sf_dir):
    from dexscraper_spark.functions.scoring import confidence_score
    ev = _t(spark, sf_dir, "events")
    feat = ev.groupBy("user_id").agg(
        F.count_distinct("event_type").cast("int").alias("field_count"),
        F.sum(F.when(F.col("value") >= 100, 1).otherwise(0)).cast("int").alias("clusters"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("int").alias("metadata"),
    )
    return feat.select(
        "user_id", "field_count", "clusters", "metadata",
        confidence_score(F.col("field_count"), F.col("clusters"),
                         F.col("metadata")).alias("confidence_score"))


# ---------------------------------------------------------------------------
# U2 — multi-strategy prefer-first fallback (protocol.py:365-423): among
# alternative extraction strategies, the highest-priority one that yields a
# result wins. Strategy priority: purchase > click > view per user.
# ---------------------------------------------------------------------------

@register(
    "fallback_prefer_first",
    """
    SELECT user_id, event_type AS strategy, value AS picked_value FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (
                 PARTITION BY user_id
                 ORDER BY CASE event_type WHEN 'purchase' THEN 1
                                          WHEN 'click' THEN 2
                                          ELSE 3 END,
                          event_id
               ) AS rn
        FROM events
        WHERE event_type IN ('purchase', 'click', 'view')
    ) WHERE rn = 1
    """,
    survey_ref="U2",
)
def fallback_prefer_first(spark, sf_dir):
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    priority = (F.when(F.col("event_type") == "purchase", 1)
                 .when(F.col("event_type") == "click", 2)
                 .otherwise(3))
    w = Window.partitionBy("user_id").orderBy(priority.asc(), F.col("event_id").asc())
    return (
        ev.filter(F.col("event_type").isin("purchase", "click", "view"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("strategy"),
                F.col("value").alias("picked_value"))
    )


# ---------------------------------------------------------------------------
# End-to-end tokens pipeline (SURVEY §3.1): decode → J1/J3 enrichment →
# A7/A9 scoring → T1 top-k. Closed-form oracle: the synthetic frames are
# formulaic (sample_pairs — k=(rec+1)*(msg+1); struct-pack round-trips
# doubles losslessly) and the enrichment is re-derived relationally in
# DuckDB from the same synthetic_metadata formulas: addresses of records
# r-2..r+1 fall inside the ±1000 band around tpos=rec*512, rank by
# (distance, mpos, value) assigns token/pair roles, the SOL row maps to
# quote_address. All 64 tokens tie at confidence 0.95 / field_count 9, so
# the LIMIT needs the token_address tiebreak for a total order.
# ---------------------------------------------------------------------------

@register(
    "tokens_pipeline_e2e",
    """
    WITH recs AS (
        SELECT f.i AS msg, r.j AS rec FROM range(0, 16) f(i), range(0, 4) r(j)
    ), meta AS (  -- non-quote positioned addresses (synthetic_metadata)
        SELECT msg, rec,
               printf('MINTADDR%02d%02d', msg, rec) || repeat('m', 24) AS addr,
               rec * 512 + 40 AS mpos
        FROM recs
        UNION ALL
        SELECT msg, rec,
               printf('PAIRADDR%02d%02d', msg, rec) || repeat('p', 24) AS addr,
               rec * 512 + 120 AS mpos
        FROM recs
    ), cand AS (  -- J1 band join: same msg, |tpos - mpos| <= 1000
        SELECT t.msg, t.rec, m.addr, m.mpos,
               abs(t.rec * 512 - m.mpos) AS dist
        FROM recs t JOIN meta m ON t.msg = m.msg
        WHERE abs(t.rec * 512 - m.mpos) <= 1000
    ), ranked AS (  -- J3 role ranking: (distance, position, value)
        SELECT msg, rec, addr,
               row_number() OVER (PARTITION BY msg, rec
                                  ORDER BY dist, mpos, addr) AS rn
        FROM cand
    ), tokens AS (
        SELECT printf('TK%02d', (recs.rec + 1) * (recs.msg + 1)) AS symbol,
               CASE WHEN recs.rec % 2 = 0 THEN 'solana' ELSE 'base' END AS chain,
               CASE CAST(recs.rec AS INT) WHEN 0 THEN 'pumpfun' WHEN 1 THEN 'raydium'
                    WHEN 2 THEN 'orca' ELSE 'meteora' END AS protocol,
               0.000123 * (recs.rec + 1) AS price_usd,
               CAST(1000000.5 AS DOUBLE) + 500.0 * recs.rec AS volume_h24,
               CAST(50000.0 AS DOUBLE) + 1000.0 * recs.rec AS liquidity_usd,
               ta.addr AS token_address,
               pa.addr AS pair_address,
               'So11111111111111111111111111111111111111112' AS quote_address,
               LEAST(0.7 + 0.05 * 9, 0.95) AS confidence_score,
               CAST(9 AS INT) AS field_count
        FROM recs
        JOIN ranked ta ON ta.msg = recs.msg AND ta.rec = recs.rec AND ta.rn = 1
        JOIN ranked pa ON pa.msg = recs.msg AND pa.rec = recs.rec AND pa.rn = 2
    )
    SELECT * FROM tokens
    ORDER BY confidence_score DESC, field_count DESC, token_address ASC
    LIMIT 10
    """,
    survey_ref="D1,S12,J1,J3,A7,A9,T1,§3.1",
)
def tokens_pipeline_e2e(spark, sf_dir):
    from dexscraper_spark.plans.tokens_pipeline import trending_top_tokens
    tune_session(spark)
    return trending_top_tokens(spark, n_frames=16, limit=10,
                               tiebreak="token_address")


# ---------------------------------------------------------------------------
# S12 — metadata pattern scan: regexp_extract_all + posexplode with
# ordinals (the positioned-entity scan behind the proximity joins).
# ---------------------------------------------------------------------------

_SCAN_PATTERN = r"\b(spark|hash|join|merge|window)\b"
# one pattern feeds BOTH engines — hand-copying it into the oracle SQL
# was a silent-drift channel
_SCAN_PATTERN_SQL = _SCAN_PATTERN


@register(
    "scan_metadata_patterns",
    f"""
    WITH m AS (
        SELECT doc_id,
               regexp_extract_all(text, '{_SCAN_PATTERN_SQL}', 1) AS l
        FROM documents
    ), flat AS (
        SELECT doc_id, 'marker' AS kind, CAST(u.i - 1 AS INT) AS ordinal,
               l[CAST(u.i AS INT)] AS value
        FROM m, UNNEST(range(1, len(l) + 1)) AS u(i)
    )
    SELECT DISTINCT doc_id, kind, ordinal, value FROM flat
    """,
    survey_ref="S12,F12",
)
def scan_metadata_patterns(spark, sf_dir):
    from dexscraper_spark.operators.metascan import scan_patterns
    docs = _t(spark, sf_dir, "documents")
    return scan_patterns(docs, id_col="doc_id", text_col="text",
                         kinds={"marker": _SCAN_PATTERN}) \
        .select("doc_id", "kind", "ordinal", "value")


# ---------------------------------------------------------------------------
# F10/U3/A3 — symbol extraction through the blacklist: tokenize documents,
# normalize to uppercase symbols, drop blacklisted protocol words
# (broadcast anti-join), frequency top-20.
# ---------------------------------------------------------------------------

def _register_blacklist_topk():
    from dexscraper_spark.functions.lookups import SYMBOL_BLACKLIST
    bl = ", ".join(f"'{w}'" for w in SYMBOL_BLACKLIST)
    sql = f"""
    WITH toks AS (
        SELECT upper(t.tok) AS sym
        FROM documents,
             UNNEST(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> length(x) >= 2)) AS t(tok)
    )
    SELECT sym, CAST(COUNT(*) AS BIGINT) AS occurrences
    FROM toks
    WHERE sym NOT IN ({bl})
    GROUP BY sym
    ORDER BY occurrences DESC, sym ASC
    LIMIT 20
    """

    @register("symbols_blacklist_topk", sql, survey_ref="F10,U3,A3,J5")
    def symbols_blacklist_topk(spark, sf_dir):
        from dexscraper_spark.functions.lookups import anti_join_blacklist
        docs = _t(spark, sf_dir, "documents")
        toks = docs.select(
            F.explode(F.filter(F.split(F.col("text"), r"\s+"),
                               lambda x: F.length(x) >= 2)).alias("raw"))
        syms = toks.select(F.upper(F.col("raw")).alias("sym"))
        kept = anti_join_blacklist(syms, symbol_col="sym")
        return (
            kept.groupBy("sym")
            .agg(F.count(F.lit(1)).alias("occurrences"))
            .orderBy(F.col("occurrences").desc(), F.col("sym").asc())
            .limit(20)
        )


_register_blacklist_topk()


# ---------------------------------------------------------------------------
# North-star near-dup dedup at scale: MinHash → LSH bucket candidates →
# verified n-gram Jaccard. xxhash64-based (no DuckDB analog) → rows-only.
# ---------------------------------------------------------------------------

@register(
    "dedup_minhash_lsh",
    # Oracle = EXACT all-pairs word-3-gram Jaccard >= 0.5 (DuckDB list
    # functions). The Spark side is MinHash+LSH candidates -> verified
    # Jaccard; on this data every qualifying pair shares at least one
    # LSH band (recall 1.0, deterministic given fixed xxhash64 seeds), so
    # approximate candidates + exact verification == the exact answer.
    # The oracle is O(n^2) — fine at the driver's sf0.01 (500 docs); the
    # Spark plan is the linear-shuffle one that survives 100 TB.
    """
    WITH sh AS (
        SELECT doc_id,
               list_distinct([array_to_string(words[i:i+2], ' ')
                              for i in range(1, greatest(len(words) - 2, 1) + 1)])
                   AS shingles
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
    ), j AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
               / CAST(len(list_distinct(a.shingles || b.shingles)) AS DOUBLE)
                   AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
    """,
    survey_ref="northstar-dedup,A8",
)
def dedup_minhash_lsh(spark, sf_dir):
    from dexscraper_spark.operators.dedup import (
        jaccard_pairs, minhash_lsh_candidates, minhash_signatures)
    docs = _t(spark, sf_dir, "documents")
    # word 3-gram shingles + 4 bands of 8 hashes: high-similarity-only
    # candidates (char shingles over a small shared vocabulary collide
    # pathologically — every doc pairs with every doc)
    sigs = minhash_signatures(docs, id_col="doc_id", text_col="text",
                              num_hashes=32, shingle_n=3, char_shingles=False)
    cands = minhash_lsh_candidates(sigs, id_col="doc_id", num_bands=4)
    verified = jaccard_pairs(docs, cands, id_col="doc_id", text_col="text",
                             shingle_n=3, char_shingles=False, threshold=0.5)
    return verified.orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# North-star ANN scale path: LSH-bucketed cosine top-k (deterministic
# hyperplanes). The REGISTERED configuration is the exactness twin (same
# pattern as similarity_ivf_full_probe): 4 bands × 1 bit with query-side
# multiprobe=1 probes BOTH values of every 1-bit band, so the candidate
# set provably covers the whole corpus and the bucketed machinery —
# vectorized signature quantizer, posexplode banding, (band, bits)
# equi-join, pair distinct, late vector rejoin, exact re-rank — must
# reproduce brute-force top-k bit-for-bit against the DuckDB oracle. The
# production (approximate) configuration — wide bands, multiprobe for
# recall (recall@5 = 1.00 at 8×3-bit multiprobe=2, 0.84 single-probe,
# measured) — is pytest-gated in tests/test_similarity.py; approximate
# recall has no exact oracle by definition.
# ---------------------------------------------------------------------------

@register(
    "similarity_lsh_bucketed",
    f"""
    WITH pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_cos6_sql('q', 'c')} AS cosine
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
        FROM pairs
    ) WHERE rn <= 5
    """,
    survey_ref="northstar-similarity",
)
def similarity_lsh_bucketed(spark, sf_dir):
    from dexscraper_spark.operators.similarity import lsh_bucketed_topk
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    # exhaustive-probe config: width-1 bands + multiprobe=1 ⇒ every
    # corpus row collides with every query on every band (see block
    # comment) — candidates ≡ all pairs, so the result ≡ brute force
    return lsh_bucketed_topk(emb, q, k=5, num_planes=4, num_bands=4,
                             dim=64, multiprobe=1, round_to=6) \
        .select("query_id", "neighbor_id", "cosine",
                F.col("rank").cast("int").alias("rank"))


# ---------------------------------------------------------------------------
# North-star multimodal pipeline: synthetic media → metadata decode →
# feature extraction → per-kind stats + ANN over media embeddings.
# Closed-form oracle: synthetic_media is formulaic — 24 items cycling
# image/audio/video; FAKE header is 16 bytes (<4sBHHBIH); image body
# (16+i)(9+i)*3, audio 160, video 6*8*6; header nf defaults to 1 for
# image/audio, width to 0 for audio. Each embedding is a normalized byte
# histogram whose fold-sum ("mass") rounds to exactly 1.0 at 6 dp, so
# per-kind total_mass = n_items under the same fixed-point sum.
# ---------------------------------------------------------------------------

@register(
    "multimodal_pipeline",
    f"""
    WITH m AS (
        SELECT i,
               CASE CAST(i % 3 AS INT) WHEN 0 THEN 'image'
                    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               CASE CAST(i % 3 AS INT)
                    WHEN 0 THEN 16 + (16 + i) * (9 + i) * 3
                    WHEN 1 THEN 16 + 160 ELSE 16 + 6 * 8 * 6 END AS payload_bytes,
               CAST(CASE CAST(i % 3 AS INT) WHEN 0 THEN 16 + i
                    WHEN 1 THEN 0 ELSE 8 END AS INT) AS width,
               CAST(CASE CAST(i % 3 AS INT) WHEN 2 THEN 6 ELSE 1 END AS INT)
                   AS n_frames,
               CAST(1.0 AS DOUBLE) AS mass
        FROM range(0, 24) t(i)
    )
    SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(payload_bytes) AS BIGINT) AS total_bytes,
           MAX(width) AS max_width, MAX(n_frames) AS max_frames,
           {sum_money_sql("mass", 6, "total_mass")}
    FROM m GROUP BY kind ORDER BY kind
    """,
    survey_ref="northstar-multimodal,D1",
)
def multimodal_pipeline(spark, sf_dir):
    # r12 optimization (guide §4.1/§8): the former two-kernel form
    # (decode_media_meta + extract_features, aggregated separately and
    # joined on kind) shipped every payload into Python twice — and back
    # out once via meta's passthrough column — then paid a join of the
    # two per-kind aggregates. The fused kernel crosses the boundary
    # once, returns only small columns, and ONE groupBy computes all
    # five aggregates (count/sum/max/max/sum_money are all one-pass,
    # partial-aggregatable): MapInPandas 2 → 1, the kind join gone.
    # Results identical: same meta/header fields, same embedding helpers,
    # and sum_money is order-independent (integer-cents accumulator).
    from dexscraper_spark.operators.multimodal import (
        decode_media_meta_features, synthetic_media)
    tune_session(spark)
    media = synthetic_media(spark, 24).coalesce(1)
    fused = decode_media_meta_features(media)
    return (fused.select(
                "kind", "payload_bytes", "width", "n_frames",
                F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x)
                .alias("mass"))
            .groupBy("kind").agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum("payload_bytes").alias("total_bytes"),
                F.max("width").alias("max_width"),
                F.max("n_frames").alias("max_frames"),
                sum_money(F.col("mass"), 6).alias("total_mass"))
            .orderBy("kind"))


# ---------------------------------------------------------------------------
# North-star dedup variant: embedding-cosine near-duplicate pairs —
# brute-force verified (the LSH-bucketed path is the scale variant of the
# same semantics). Oracle-checked: sequential-fold dot products rounded
# half-up to 6 dp in both engines; pairs with cosine >= threshold.
# ---------------------------------------------------------------------------

_COS_DEDUP_THRESHOLD = 0.4


@register(
    "dedup_embedding_cosine",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos6_sql('a', 'b')} AS cosine
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id AND a.label = b.label AND a.label < 3
      AND {_cos6_sql('a', 'b')} >= {_COS_DEDUP_THRESHOLD}
    """,
    survey_ref="northstar-dedup,northstar-similarity",
)
def dedup_embedding_cosine(spark, sf_dir):
    from dexscraper_spark.operators.similarity import exact_cosine_pairs_blocked
    emb = _t(spark, sf_dir, "embeddings")
    # blocking on label: the classic dedup-blocking trick — the pair space
    # shrinks by the block count (scale path: LSH buckets give the same
    # shape unkeyed). Within each block, BLAS-filter + exact-verify: a
    # chunked numpy Gram matrix generates candidates at threshold−1e-4,
    # then the sequential-fold cosine re-scores them — output bit-identical
    # to the naive all-pairs equi-join (measured 64× super-linear at 10×
    # data; the matmul does the same flops ~50× faster and the shuffle
    # carries only near-threshold survivors).
    emb = emb.filter(F.col("label") < 3)   # demo slice: 3 of the blocks
    return exact_cosine_pairs_blocked(
        emb, id_col="vec_id", vec_col="embedding", block_col="label",
        threshold=_COS_DEDUP_THRESHOLD)


# ---------------------------------------------------------------------------
# North-star text: whitespace + BPE-ish token counting per document.
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Extension (SURVEY §2.5 note): exact interpolated percentiles — free in
# Spark, absent from the reference. Linear interpolation on sorted values
# in both engines; rounded half-up 6 dp as a bit-stability guard.
# ---------------------------------------------------------------------------

def _round6_sql(q: str) -> str:
    # round to 6 dp only where a 1e-6 step is representable; beyond ~4e9
    # the scaled intermediate overflows the bigint FLOOR path (and the
    # rounding would be sub-ulp noise anyway) — both engines must branch
    # identically or the comparison diverges at extreme magnitudes
    return (f"CASE WHEN abs({q}) < 4e9 "
            f"THEN FLOOR({q} * 1000000.0 + 0.5) / 1000000.0 ELSE {q} END")


@register(
    "agg_percentiles",
    f"""
    SELECT event_type,
           {_round6_sql('quantile_cont(value, 0.5)')} AS p50,
           {_round6_sql('quantile_cont(value, 0.95)')} AS p95,
           {_round6_sql('quantile_cont(value, 0.99)')} AS p99
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    survey_ref="§2.5-extension",
)
def agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles without `F.percentile`'s
    ObjectHashAggregate (which buffers every group value in executor memory
    and disables codegen — the one plan that cannot survive a 100× group).
    Scale path: sort-based two-pass — `row_number` over (group, value) is a
    spillable SortExec/WindowExec, then each percentile picks its two
    bracketing ranks with conditional aggregates and interpolates
    `lo + (hi - lo) * frac` (DuckDB quantile_cont's formula, bit-identical).
    """
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    # NULLs sort last and n counts only non-null values, so null rows get
    # rn > n and never match a bracketing rank — quantile_cont semantics
    # (nulls ignored, all-null groups kept with NULL percentiles: n=0
    # makes k=0 match nothing and the interpolation collapse to NULL)
    # without a pre-filter that would drop all-null groups entirely.
    w = Window.partitionBy("event_type") \
        .orderBy(F.col("value").asc_nulls_last())
    ranked = ev.withColumn("rn", F.row_number().over(w))
    n = F.count(F.col("value")).over(Window.partitionBy("event_type"))
    ranked = ranked.withColumn("n", n)

    def pick(p, name):
        idx = F.lit(p) * (F.col("n") - F.lit(1)).cast("double")
        k = F.floor(idx).cast("long") + F.lit(1)  # 1-based lower rank
        lo = F.max(F.when(F.col("rn") == k, F.col("value")))
        hi = F.max(F.when(F.col("rn") == k + 1, F.col("value")))
        frac = F.max(F.when(F.col("rn") == k, idx - F.floor(idx)))
        val = lo + (F.coalesce(hi, lo) - lo) * frac
        rounded = F.floor(val * 1_000_000.0 + F.lit(0.5)) / 1_000_000.0
        # mirror _round6_sql: round only below the bigint-FLOOR overflow
        # magnitude; pass extreme values through un-rounded (sub-ulp)
        return F.when(F.abs(val) < 4e9, rounded).otherwise(val).alias(name)

    return (
        ranked.groupBy("event_type")
        .agg(pick(0.5, "p50"), pick(0.95, "p95"), pick(0.99, "p99"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# R1/R5/R8 — the streaming pipeline as a catalog entry: synthetic frames →
# file stream → decode kernel → event-time OHLC (created_at) → memory sink,
# bounded with availableNow. Closed-form oracle: frames are formulaic
# (sample_pairs: symbol TK{(rec+1)*(msg+1)}, price 0.000123*(rec+1),
# created_at 1756793176+60*rec) and every created_at falls in the single
# 5-minute window starting 1756793100, so the streaming aggregate equals a
# batch group-by computable without a decoder or a stream.
# ---------------------------------------------------------------------------

@register(
    "streaming_ohlc_pipeline",
    """
    WITH recs AS (
        SELECT f.i AS msg, r.j AS rec FROM range(0, 8) f(i), range(0, 4) r(j)
    ), rows_in AS (
        SELECT printf('TK%02d', (rec + 1) * (msg + 1)) AS symbol,
               0.000123 * (rec + 1) AS price_usd,
               1756793176 + 60 * rec AS created_at
        FROM recs
    )
    SELECT symbol,
           CAST(floor(created_at / 300) * 300 AS BIGINT) AS bucket_ts,
           MIN(price_usd) AS low, MAX(price_usd) AS high,
           CAST(COUNT(*) AS BIGINT) AS trades
    FROM rows_in GROUP BY symbol, bucket_ts
    ORDER BY symbol, bucket_ts
    """,
    survey_ref="R1,R4,R5,R6,R8,S1",
    cache_plan=False,  # the builder RUNS the stream: results must not cache
)
def streaming_ohlc_pipeline(spark, sf_dir):
    import os
    import tempfile
    import pyarrow as pa
    import pyarrow.parquet as pq
    from dexscraper_spark.schemas import RAW_MESSAGES
    from dexscraper_spark.sources.binary import make_frame, sample_pairs
    from dexscraper_spark.sources.decode import decode_messages
    tune_session(spark)

    # r13 NEGATIVE RESULT: moving this ephemeral checkpoint to RAM-backed
    # /dev/shm measured a wash (interleaved A/B 3×3: 0.82-0.85 vs
    # 0.83-0.92 s min — the offset/commit log writes are page-cache-hot,
    # not fsync-bound on this host), so the scratch stays at the tempfile
    # default. The workdir cleanup below is kept: it fixes a per-
    # invocation directory leak.
    workdir = tempfile.mkdtemp(prefix="dexstream_")
    # r13 optimization (guide §5 — the driver should do almost no data
    # work *through Spark*): the 8 synthetic frames are driver-generated
    # bytes, so write them with pyarrow directly instead of paying a
    # createDataFrame + coalesce(1) + parquet-commit Spark job per
    # invocation. The streamed bytes and the pre-resolved read schema
    # (RAW_MESSAGES) are identical; only the setup job disappears
    # (interleaved A/B: ~0.1 s steady, ~2 s on a fresh session).
    n_msgs, recs_per_msg = 8, 4
    payloads = [make_frame(sample_pairs(recs_per_msg, seed=i))
                for i in range(n_msgs)]
    os.makedirs(f"{workdir}/frames", exist_ok=True)
    pq.write_table(
        pa.table({"msg_id": pa.array(range(n_msgs), pa.int64()),
                  "payload": pa.array(payloads, pa.binary())}),
        f"{workdir}/frames/part-00000.parquet")

    raw = spark.readStream.schema(RAW_MESSAGES).parquet(f"{workdir}/frames")
    decoded = decode_messages(raw)
    bars = (
        decoded.withColumn("ev_ts", F.timestamp_seconds(F.col("created_at")))
        .withWatermark("ev_ts", "10 minutes")
        .groupBy(F.col("base_token_symbol").alias("symbol"),
                 F.window("ev_ts", "5 minutes").alias("w"))
        .agg(F.min("price_usd").alias("low"), F.max("price_usd").alias("high"),
             F.count(F.lit(1)).alias("trades"))
        .select("symbol", F.col("w.start").cast("long").alias("bucket_ts"),
                "low", "high", "trades")
    )
    # unique per invocation: bench/driver may run this twice in a session
    name = "dexstream_bars_" + workdir.rsplit("dexstream_", 1)[-1]
    # State-store partition count is pinned by shuffle.partitions at the
    # first trigger (checkpoint-sticky) and AQE cannot coalesce stateful
    # shuffles — so size it to the STREAM'S OWN data volume (guide §2.2:
    # fewer, larger partitions; every extra state partition costs a
    # state-store commit + task per micro-batch). The builder knows its
    # input exactly — n_msgs × recs_per_msg decoded rows — so derive the
    # count from that, bounded above by the session's configured
    # parallelism: at this stream's 32 rows that is ONE partition (one
    # state commit per batch instead of eight — interleaved A/B ~0.2 s);
    # a production-volume stream (rows ≫ rows_per_part) keeps the full
    # session parallelism. The untuned 200 default still falls back to
    # defaultParallelism as the upper bound. Scoped + restored.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    base = (spark.sparkContext.defaultParallelism if prev == "200"
            else int(prev))
    rows_per_part = 4096  # MB-range state per partition before splitting
    data_parts = max(1, -(-(n_msgs * recs_per_msg) // rows_per_part))
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(min(base, data_parts)))
    try:
        q = (bars.writeStream.format("memory").queryName(name)
             .outputMode("complete")
             .option("checkpointLocation", f"{workdir}/ckpt")
             .trigger(availableNow=True).start())
        if not q.awaitTermination(120):
            # fail LOUDLY: returning here would hand the driver a
            # partially-filled memory table (confusing row mismatch)
            # while the stateful query keeps running
            q.stop()
            raise TimeoutError(
                "streaming_ohlc_pipeline availableNow batch exceeded 120s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        # the bounded stream is finished and the memory-sink table does
        # not reference the files: reclaim the scratch (it may be RAM)
        import shutil
        shutil.rmtree(workdir, ignore_errors=True)
    return spark.table(name).orderBy("symbol", "bucket_ts")


# ---------------------------------------------------------------------------
# North-star text: composite quality score — identical arithmetic order in
# both engines (single exact divisions, left-assoc weighted sum).
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# North-star ANN scale path #2: IVF (KMeans coarse quantizer, nprobe
# probing). Build/query split: the index is built ONCE per (session,
# sf_dir) and cached for the engine lifetime — queries only probe. At
# production scale the same index lives as list-partitioned parquet
# (ivf_save/ivf_load) and probes prune partitions. Model-fit → rows-only.
# ---------------------------------------------------------------------------

def _ivf_index(spark, sf_dir: str, *, nlist: int = 8, seed: int = 42):
    # r12 optimization: ivf_build_deterministic, not the MLlib ivf_build.
    # The MLlib fit is ~35 scheduler jobs (k-means|| init + 20 iteration
    # rounds) — pure driver round-trip floor at index-build time — where
    # the deterministic build is ONE bounded sample collect + a driver
    # numpy Lloyd + ONE broadcast-compare assignment pass (the same
    # sample-then-fit discipline pq_train and tools/recall.py already
    # use; it is also layout-independent). The registered consumer
    # (similarity_ivf_full_probe) probes ALL lists with exact re-rank,
    # so its oracle-checked output is invariant to which centroids the
    # quantizer fits — only the build cost changes (measured ~3x).
    from dexscraper_spark.operators.similarity import ivf_build_deterministic
    return get_or_build(
        spark, "ivf_index", (sf_dir, nlist, seed),
        lambda: ivf_build_deterministic(_t(spark, sf_dir, "embeddings"),
                                        nlist=nlist, seed=seed, cache=True))


# NOT registered: the nprobe<nlist probe is approximate by design, so its
# driver row could only ever be rows-only; the IVF path is driver-gated
# through `similarity_ivf_full_probe` (bit-exact vs brute force) and the
# recall/save-load pytest suite. The freed registry slot (50-row driver
# cap) carries the oracle-checked as-of join instead.
def similarity_ivf(spark, sf_dir):
    from dexscraper_spark.operators.similarity import ivf_query
    emb = _t(spark, sf_dir, "embeddings")
    index = _ivf_index(spark, sf_dir, nlist=8, seed=42)
    q = emb.filter(F.col("vec_id") < 10)
    return ivf_query(index, q, k=5, nprobe=4) \
        .select("query_id", "neighbor_id", "cosine", "rank")


# ---------------------------------------------------------------------------
# IVF exactness invariant: probing ALL lists must reproduce brute-force
# top-k bit-exactly (the standard ANN sanity gate) — same oracle SQL as
# similarity_topk. This puts the IVF probe path itself (centroid ranking,
# list equi-join, re-rank, tie order) under the DuckDB gate; the
# nprobe<nlist entry above stays rows-only because recall<1 is by design.
# ---------------------------------------------------------------------------

@register(
    "similarity_ivf_full_probe",
    f"""
    WITH pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_cos6_sql('q', 'c')} AS cosine
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rn
        FROM pairs
    ) WHERE rn <= 5
    """,
    survey_ref="northstar-similarity",
)
def similarity_ivf_full_probe(spark, sf_dir):
    from dexscraper_spark.operators.similarity import ivf_query
    emb = _t(spark, sf_dir, "embeddings")
    index = _ivf_index(spark, sf_dir, nlist=8, seed=42)
    q = emb.filter(F.col("vec_id") < 10)
    return ivf_query(index, q, k=5, nprobe=index.nlist) \
        .select("query_id", "neighbor_id", "cosine", "rank")


# ---------------------------------------------------------------------------
# KMV distinct sketch, driver-gated via the exact-below-k contract
# (VERDICT r4 ask #7): a KMV sketch holding fewer than k values IS the
# distinct set of hash fractions, so with k chosen ≥ the per-group
# distinct count the estimator is closed-form exact and COUNT(DISTINCT)
# is a true oracle. k=2048 covers every driver/test scale (≤1,500
# distinct users per event_type at sf0.1); beyond k the same query
# degrades gracefully to the (k−1)/u_k estimate (RSE ≈ 1/√(k−2) ≈ 2%) —
# that approximate regime is pytest-gated (tests/test_sketch.py), like
# the ANN recall suite. The sketch path itself (mapInPandas local
# sketches, bounded merge shuffle, partitioning independence) is what
# this row exercises end-to-end.
# ---------------------------------------------------------------------------

@register(
    "sketch_kmv_distinct",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS sketch_size,
           CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS distinct_est
    FROM events
    GROUP BY event_type
    """,
    survey_ref="northstar-sketch,A1",
)
def sketch_kmv_distinct(spark, sf_dir):
    from dexscraper_spark.operators.sketch import kmv_sketch
    ev = _t(spark, sf_dir, "events")
    sk = kmv_sketch(ev, cols=["user_id"], group_by=["event_type"], k=2048)
    return sk.select(
        "event_type",
        F.size("sketch").cast("long").alias("sketch_size"),
        "distinct_est",
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation with a FULL exact oracle — the whole nightly
# training-data pipeline (metrics → gates → exact dedup → simhash
# near-dup → connected components → canonical survivor → split) checked
# bit-for-bit against DuckDB, including the graph step: components are
# recomputed in SQL with a recursive min-label CTE, so the Spark
# pointer-jumping implementation (dedup.py dedup_components) is verified
# against an independent fixpoint formulation, not itself. Near-dup
# fingerprints use the portable md5-le64 hash (same shared CTE as
# dedup_simhash — one definition, zero drift); banding is
# pigeonhole-complete (hamming 3 < 4 bands), so the banded candidates
# equal the oracle's all-pairs set. The production xxhash64 config stays
# pytest-gated (tests/test_curation.py).
# ---------------------------------------------------------------------------

def _curation_oracle_sql() -> str:
    hits = {lang: _lang_hits_sql(lang) for lang in ("en", "es", "fr", "de")}
    gr = (f"greatest({hits['en']}, {hits['es']}, "
          f"{hits['fr']}, {hits['de']})")
    lang_case = f"""CASE WHEN text IS NULL OR {gr} = 0 THEN 'und'
                    WHEN {hits['en']} = {gr} THEN 'en'
                    WHEN {hits['es']} = {gr} THEN 'es'
                    WHEN {hits['fr']} = {gr} THEN 'fr'
                    ELSE 'de' END"""
    return f"""
    WITH RECURSIVE t AS (
        SELECT doc_id, text, length(text) AS n,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> length(x) > 0) AS ws
        FROM documents
    ), feats AS (
        SELECT doc_id, text, n, len(ws) AS n_tokens,
               CASE WHEN n > 0
                    THEN CAST(n - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                         / CAST(n AS DOUBLE)
                    ELSE 0.0 END AS punct_ratio,
               CASE WHEN len(ws) > 0
                    THEN CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                         / CAST(len(ws) AS DOUBLE)
                    ELSE 0.0 END AS atl
        FROM t
    ), scored AS (
        SELECT doc_id, text, n_tokens,
               {lang_case} AS lang,
               CASE WHEN n IS NULL THEN 0.0 ELSE least(greatest(
                 (CASE WHEN n < 50 THEN CAST(n AS DOUBLE) / 50.0
                       WHEN n > 20000 THEN 0.25 ELSE 1.0 END) * 0.4
                 + (1.0 - least(punct_ratio * 2.0, 1.0)) * 0.3
                 + (CASE WHEN atl >= 3.0 AND atl <= 10.0
                         THEN 1.0 ELSE 0.5 END) * 0.3,
                 0.0), 1.0) END AS quality
        FROM feats
    ), gated AS (
        SELECT * FROM scored
        WHERE quality >= 0.5 AND lang IN ('en', 'es', 'fr', 'de')
          AND n_tokens >= 5
    ), keepids AS (
        SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY text
    ), dd AS (
        SELECT g.* FROM gated g JOIN keepids k USING (doc_id)
    ), {_simhash_cte_sql("dd", 3, 3).strip()}, edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ), walk AS (
        SELECT src AS node, src AS label FROM edges
        UNION
        SELECT e.dst AS node, w.label FROM walk w
        JOIN edges e ON e.src = w.node
    ), comp AS (
        SELECT node, MIN(label) AS component FROM walk GROUP BY node
    )
    SELECT doc_id, lang, quality,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CASE WHEN hb < 80 THEN 'train'
                WHEN hb < 90 THEN 'valid'
                ELSE 'test' END AS split
    FROM (
        SELECT *,
               ((((CASE WHEN md5_number_lower(CAST(doc_id AS VARCHAR)) >= 9223372036854775808
                        THEN CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) AS HUGEINT) - 18446744073709551616
                        ELSE CAST(md5_number_lower(CAST(doc_id AS VARCHAR)) AS HUGEINT) END)
                  % 100) + 100) % 100) AS hb
        FROM dd
    )
    WHERE doc_id NOT IN (SELECT node FROM comp WHERE node <> component)
    """


@register(
    "curation_pipeline",
    _curation_oracle_sql(),
    survey_ref="northstar-curation,A7,A8,northstar-split",
)
def curation_pipeline(spark, sf_dir):
    """plans/curation.py curate_corpus end-to-end with the portable
    near-dup hash: one surviving row per curated document.

    Cost shape mirrors the IVF row's build/query split: curation is a
    batch MATERIALIZATION (production form: write_curated shards) whose
    iterative graph step localCheckpoints per round, so the first
    resolution per (session, sf_dir) pays the full pipeline (~13 s at
    sf0.1) and later reads serve from the materialized artifact — a
    nightly corpus is curated once and read many times. Materialized
    semantics also on refresh: replacing the documents files serves the
    OLD artifact until ``registry.clear_plan_cache()`` re-curates (the
    plan cache's loud-staleness guarantee applies to pure plans, not
    artifact rows — registry.py)."""
    from dexscraper_spark.operators.dedup import md5_le64
    from dexscraper_spark.plans.curation import curate_corpus
    docs = _t(spark, sf_dir, "documents")
    cur = curate_corpus(docs, simhash_hash_fn=md5_le64)
    out = cur.select(
        "doc_id", "lang", "quality",
        F.col("n_tokens").cast("long").alias("n_tokens"), "split")
    # the artifact IS the materialization: the parquet artifact scans
    # as a one-node plan, so warm reads skip re-analyzing the whole
    # curation tree (~0.2 s of driver-side analysis per read measured
    # at sf0.1 — the r7 bench-gate catch) and release deterministically.
    # Refresh semantics unchanged: clear_plan_cache() deletes the
    # artifact and the next call re-curates.
    return materialize_artifact(out, "curation")
