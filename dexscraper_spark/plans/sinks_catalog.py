"""Oracle-checked sink row-projections (SURVEY §2.2): the K3/K4/K5/K10 line
formats plus the K6/K7 per-bar row shapes, registered as queries with DuckDB
oracles so the sink layer has green CORRECTNESS rows, not only golden tests.

Input bars: 1-hour OHLC over events (``ohlc_windowed``, the h1 frame of
the ``ohlc_bars`` catalog query) with
volume at 2-decimal fixed point — %.2f of a value that is an exact multiple
of 0.01 can never land on a round-half tie, so Java's HALF_UP
(format_string) and DuckDB's printf round identically. Raw event doubles
were empirically verified tie-free for %.8f/%.2f at sf0.01 and sf0.1.

Reference parity: line shapes are models.py:61-77 (K3/K4/K5),
models.py:463-524 (K6/K7 row fields), models.py:603-662 (K10 projection).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dexscraper_spark.functions.exact import sum_money_sql
from dexscraper_spark.persist import get_or_build, materialize_artifact
from dexscraper_spark.plans.registry import register
from dexscraper_spark.session import tune_session


def _bars(spark, sf_dir: str):
    """Deterministic 1h OHLC bars from events, sink-ready column names.

    Every sink query projects the same bar frame, so it is derived once per
    (appId, sf_dir) — persist kind "bars" — and served as an artifact:
    the per-sink cost is then a scan + projection, not a repeated groupBy
    over events.
    """
    def build():
        from dexscraper_spark.operators.ohlc import ohlc_windowed
        from dexscraper_spark.sources.tables import load_table
        tune_session(spark)
        ev = load_table(spark, sf_dir, "events")
        bars = ohlc_windowed(
            ev, symbol_col="event_type", ts_col="ts", price_col="value",
            qty_col="value", order_col="event_id", duration="1 hour",
            volume_scale=2,
        )
        # materialize_artifact, not cache(): the artifact is read by
        # several sink rows per bench pass, and each read re-ANALYZES
        # the full lineage of a plain cached frame (~0.1-0.3 s/driver
        # round at sf0.1). The parquet artifact scans as a one-node
        # plan AND releases deterministically (persist.refresh deletes
        # the dir — unpersist() can't free checkpoint blocks).
        return materialize_artifact(
            bars.withColumn("ts", F.col("bucket_ts").cast("long")),
            "bars")
    return get_or_build(spark, "bars", sf_dir, build)


_BARS_CTE = f"""
    WITH bars AS (
        SELECT event_type AS symbol,
               CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS ts,
               arg_min(value, event_id) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               arg_max(value, event_id) AS close,
               {sum_money_sql('value', 2)} AS volume,
               CAST(COUNT(*) AS BIGINT) AS trades
        FROM events
        GROUP BY 1, 2
    )
"""

_STRF = {"mt5": "%Y.%m.%d %H:%M:%S", "iso": "%Y-%m-%d %H:%M:%S"}


def _line_sql(fmt_key: str, *tail: str) -> str:
    parts = [f"strftime(epoch_ms(ts * 1000), '{_STRF[fmt_key]}')",
             "printf('%.8f', open)", "printf('%.8f', high)",
             "printf('%.8f', low)", "printf('%.8f', close)", *tail]
    return "concat_ws(',', " + ", ".join(parts) + ")"


@register(
    "sink_csv_lines",
    _BARS_CTE + f"""
    SELECT symbol, ts AS ts_s,
           {_line_sql('mt5', "CAST(CAST(TRUNC(volume) AS BIGINT) AS VARCHAR)")} AS line_mt5,
           {_line_sql('iso', "printf('%.2f', volume)")} AS line_ohlcv,
           {_line_sql('iso', "printf('%.2f', volume)",
                      "CAST(COALESCE(trades, CAST(FLOOR(volume / 1000.0) AS BIGINT)) AS VARCHAR)")} AS line_ohlcvt
    FROM bars
    """,
    survey_ref="K3,K4,K5,A5",
)
def sink_csv_lines(spark, sf_dir):
    """The three line-format sinks (K5 MT5, K3 CSV-OHLCV, K4 CSV-OHLCVT)
    as side-by-side formatted columns over the shared cached bar frame —
    each column is the exact line the corresponding exporter writes."""
    from dexscraper_spark.sinks.exporters import (
        csv_ohlcv_line, csv_ohlcvt_line, mt5_line)
    bars = _bars(spark, sf_dir)
    return bars.select("symbol", F.col("ts").alias("ts_s"),
                       mt5_line().alias("line_mt5"),
                       csv_ohlcv_line().alias("line_ohlcv"),
                       csv_ohlcvt_line().alias("line_ohlcvt"))


@register(
    "sink_bar_rows",
    _BARS_CTE + """
    SELECT symbol, ts AS t, open AS o, high AS h, low AS l, close AS c,
           volume AS v,
           ts * 1000 AS open_ms,
           printf('%.8f', open) AS open_p,
           printf('%.8f', high) AS high_p,
           printf('%.8f', low) AS low_p,
           printf('%.8f', close) AS close_p,
           printf('%.8f', volume) AS vol_p,
           ts * 1000 + 60000 AS close_ms,
           printf('%.8f', volume) AS quote_vol,
           CASE WHEN COALESCE(trades, 0) = 0 THEN 1 ELSE trades END AS n_trades,
           printf('%.8f', volume * 0.6) AS taker_base,
           printf('%.8f', volume * 0.6) AS taker_quote
    FROM bars
    """,
    survey_ref="K6,K7,A5",
)
def sink_bar_rows(spark, sf_dir):
    """K6 + K7 per-bar row shapes side by side over the shared cached bar
    frame (consolidated from r4's sink_tradingview_rows + sink_binance_rows
    to free driver-cap slots — COVERAGE.md): the columnar {t,o,h,l,c,v}
    fields the TradingView document is assembled from (models.py:463-488)
    and the Binance kline lanes — ms interval, %.8f price/volume strings,
    taker volume = 0.6·V, trades falsy → 1 (models.py:491-524)."""
    bars = _bars(spark, sf_dir)
    f8 = lambda c: F.format_string("%.8f", c)  # noqa: E731
    return bars.select(
        "symbol", F.col("ts").alias("t"), F.col("open").alias("o"),
        F.col("high").alias("h"), F.col("low").alias("l"),
        F.col("close").alias("c"), F.col("volume").alias("v"),
        (F.col("ts") * 1000).alias("open_ms"),
        f8(F.col("open")).alias("open_p"),
        f8(F.col("high")).alias("high_p"),
        f8(F.col("low")).alias("low_p"),
        f8(F.col("close")).alias("close_p"),
        f8(F.col("volume")).alias("vol_p"),
        (F.col("ts") * 1000 + 60000).alias("close_ms"),
        f8(F.col("volume")).alias("quote_vol"),
        F.when(F.col("trades").isNotNull() & (F.col("trades") != 0),
               F.col("trades")).otherwise(F.lit(1)).alias("n_trades"),
        f8(F.col("volume") * 0.6).alias("taker_base"),
        f8(F.col("volume") * 0.6).alias("taker_quote"),
    )


# Shared Excel-shaped token frame (symbol/name/price/volume/confidence/
# field_count/ts per user) — feeds the K10 CSV projection AND the K1/K11
# document/metric lines, so it is derived once per (appId, sf_dir) like
# _bars/_tokens.
_XTOKENS_CTE = f"""
    WITH tokens AS (
        SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
               'User ' || CAST(user_id AS VARCHAR) AS token_name,
               'solana' AS chain,
               'raydium' AS protocol,
               arg_max(value, event_id) AS price,
               {sum_money_sql('value', 2)} AS volume_24h,
               CAST(COUNT(*) AS BIGINT) AS txns_24h,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS makers,
               MAX(value) AS liquidity,
               MIN(value) AS market_cap,
               CAST(COUNT(*) AS DOUBLE) / CAST(COUNT(*) + 1 AS DOUBLE)
                   AS confidence_score,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS field_count,
               MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS ts
        FROM events
        GROUP BY user_id
    )
"""


def _excel_tokens(spark, sf_dir: str):
    def build():
        from dexscraper_spark.functions.exact import sum_money
        from dexscraper_spark.sources.tables import load_table
        tune_session(spark)
        ev = load_table(spark, sf_dir, "events")
        n = F.count(F.lit(1))
        tokens = ev.groupBy("user_id").agg(
            F.max_by(F.col("value"), F.col("event_id")).alias("price"),
            sum_money(F.col("value"), 2).alias("volume_24h"),
            n.alias("txns_24h"),
            F.count_distinct("event_type").cast("long").alias("makers"),
            F.max("value").alias("liquidity"),
            F.min("value").alias("market_cap"),
            (n.cast("double") / (n + F.lit(1)).cast("double"))
            .alias("confidence_score"),
            F.count_distinct("event_type").cast("long").alias("field_count"),
            F.max(F.unix_seconds(F.col("ts"))).alias("ts"),
        ).select(
            F.concat(F.lit("U"), F.col("user_id").cast("string"))
            .alias("symbol"),
            F.concat(F.lit("User "), F.col("user_id").cast("string"))
            .alias("token_name"),
            F.lit("solana").alias("chain"),
            F.lit("raydium").alias("protocol"),
            "price", "volume_24h", "txns_24h", "makers", "liquidity",
            "market_cap", "confidence_score", "field_count", "ts",
        )
        return materialize_artifact(tokens, "xtokens")  # see _bars
    return get_or_build(spark, "xtokens", sf_dir, build)


@register(
    "sink_excel",
    _XTOKENS_CTE + """
    SELECT symbol, token_name, chain, protocol, price, volume_24h, txns_24h,
           makers, liquidity, market_cap, confidence_score, field_count,
           strftime(epoch_ms(ts * 1000), '%Y-%m-%d %H:%M:%S') AS timestamp
    FROM tokens
    """,
    survey_ref="K10,A1",
)
def sink_excel(spark, sf_dir):
    """K10: the 13-column Excel CSV projection (models.py:603-662) over a
    deterministic per-user token frame derived from events."""
    from dexscraper_spark.sinks.exporters import excel_rows
    return excel_rows(_excel_tokens(spark, sf_dir))


# ---------------------------------------------------------------------------
# K8/K9 row shapes — the per-token rows the CoinGecko (models.py:527-569)
# and PancakeSwap (models.py:572-600) documents are assembled from,
# registered as oracle-checked queries like the other sink projections.
# Input: the same deterministic per-user token frame sink_excel uses,
# extended with change/address lanes.
# ---------------------------------------------------------------------------

_TOKENS_CTE = f"""
    WITH tokens AS (
        SELECT 'U' || CAST(user_id AS VARCHAR) AS symbol,
               'User ' || CAST(user_id AS VARCHAR) AS token_name,
               'A' || CAST(user_id AS VARCHAR) AS token_address,
               arg_max(value, event_id) AS price,
               MIN(value) AS market_cap,
               {sum_money_sql('value', 2)} AS volume_24h,
               CASE WHEN arg_min(value, event_id) != 0.0
                    THEN (arg_max(value, event_id) - arg_min(value, event_id))
                         / arg_min(value, event_id) * 100.0
                    ELSE 0.0 END AS change_24h,
               MAX(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS ts
        FROM events
        GROUP BY user_id
    )
"""


def _tokens(spark, sf_dir: str):
    # same (appId, sf_dir) memoization as _bars: the coingecko and
    # pancakeswap sinks consume the identical per-user frame, so derive
    # the events groupBy once per session instead of once per sink
    # query, as a lineage-truncated artifact (see _bars)
    return get_or_build(
        spark, "tokens", sf_dir,
        lambda: materialize_artifact(_build_tokens(spark, sf_dir), "tokens"))


def _build_tokens(spark, sf_dir: str):
    from dexscraper_spark.functions.exact import sum_money
    from dexscraper_spark.sources.tables import load_table
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    uid = F.col("user_id").cast("string")
    return ev.groupBy("user_id").agg(
        F.max_by(F.col("value"), F.col("event_id")).alias("price"),
        F.min("value").alias("market_cap"),
        sum_money(F.col("value"), 2).alias("volume_24h"),
        F.min_by(F.col("value"), F.col("event_id")).alias("first_v"),
        F.max_by(F.col("value"), F.col("event_id")).alias("last_v"),
        F.max(F.unix_seconds(F.col("ts"))).alias("ts"),
    ).select(
        F.concat(F.lit("U"), uid).alias("symbol"),
        F.concat(F.lit("User "), uid).alias("token_name"),
        F.concat(F.lit("A"), uid).alias("token_address"),
        "price", "market_cap", "volume_24h",
        F.when(F.col("first_v") != 0.0,
               (F.col("last_v") - F.col("first_v")) / F.col("first_v")
               * 100.0).otherwise(F.lit(0.0)).alias("change_24h"),
        "ts",
    )


@register(
    "sink_document_rows",
    _TOKENS_CTE + """
    , ranked AS (
        SELECT *, CAST(row_number() OVER (
                   ORDER BY market_cap DESC, symbol ASC) AS BIGINT) AS rank
        FROM tokens WHERE price IS NOT NULL AND price != 0.0
    )
    SELECT 'coingecko' AS sink,
           'token-' || CAST(rank - 1 AS VARCHAR) AS key,
           rank, symbol, token_name AS name, price,
           market_cap AS m1,
           volume_24h AS m2,
           change_24h AS chg_24h,
           change_24h / 24.0 AS chg_1h,
           price * 1.2 AS ath,
           CAST(-16.67 AS DOUBLE) AS ath_chg,
           ts AS ts_s
    FROM ranked WHERE rank <= 100
    UNION ALL
    SELECT 'pancakeswap' AS sink,
           token_address AS key,
           CAST(NULL AS BIGINT) AS rank,
           symbol,
           CASE WHEN token_name IS NOT NULL AND token_name != ''
                THEN token_name ELSE symbol END AS name,
           price,
           price * 0.002 AS m1,
           CAST(NULL AS DOUBLE) AS m2,
           CAST(NULL AS DOUBLE) AS chg_24h,
           CAST(NULL AS DOUBLE) AS chg_1h,
           CAST(NULL AS DOUBLE) AS ath,
           CAST(NULL AS DOUBLE) AS ath_chg,
           CAST(ts AS BIGINT) AS ts_s
    FROM (
        SELECT * FROM tokens
        WHERE token_address IS NOT NULL AND price IS NOT NULL AND price != 0.0
        ORDER BY token_address ASC
        LIMIT 500
    )
    """,
    survey_ref="K8,K9,A5",
)
def sink_document_rows(spark, sf_dir):
    """K8 + K9 per-token document rows in one sink-tagged union over the
    shared cached token frame (consolidated from r4's sink_coingecko_rows +
    sink_pancakeswap_rows to free driver-cap slots — COVERAGE.md).

    'coingecko' lane (models.py:527-569): top-100 by market cap, rank AFTER
    the cap (TakeOrderedAndProject bounds the frame before the rank
    window), ath = 1.2·price, ath_change = -16.67. 'pancakeswap' lane
    (models.py:572-600): one entry per token_address bounded by the same
    total order on address the document builder uses, price_BNB =
    0.002·price, falsy-name → symbol fallback."""
    from pyspark.sql import Window
    from dexscraper_spark.operators.topk import top_k
    t = _tokens(spark, sf_dir)
    priced = t.filter(F.col("price").isNotNull() & (F.col("price") != 0.0))

    order = [F.col("market_cap").desc_nulls_last(), F.col("symbol").asc()]
    bounded = top_k(priced, 100, *order)
    rank = F.row_number().over(Window.orderBy(*order)).cast("long")
    nd = F.lit(None).cast("double")
    cg = bounded.withColumn("rank", rank).select(
        F.lit("coingecko").alias("sink"),
        F.concat(F.lit("token-"), (F.col("rank") - 1).cast("string"))
        .alias("key"),
        "rank", "symbol", F.col("token_name").alias("name"), "price",
        F.col("market_cap").alias("m1"),
        F.col("volume_24h").alias("m2"),
        F.col("change_24h").alias("chg_24h"),
        (F.col("change_24h") / 24.0).alias("chg_1h"),
        (F.col("price") * 1.2).alias("ath"),
        F.lit(-16.67).alias("ath_chg"),
        F.col("ts").alias("ts_s"),
    )

    ps_bounded = top_k(
        priced.filter(F.col("token_address").isNotNull()),
        500, F.col("token_address").asc())
    ps = ps_bounded.select(
        F.lit("pancakeswap").alias("sink"),
        F.col("token_address").alias("key"),
        F.lit(None).cast("long").alias("rank"),
        "symbol",
        F.when(F.col("token_name").isNotNull() & (F.col("token_name") != ""),
               F.col("token_name")).otherwise(F.col("symbol")).alias("name"),
        "price",
        (F.col("price") * 0.002).alias("m1"),
        nd.alias("m2"), nd.alias("chg_24h"), nd.alias("chg_1h"),
        nd.alias("ath"), nd.alias("ath_chg"),
        F.col("ts").cast("long").alias("ts_s"),
    )
    return cg.unionByName(ps)


# ---------------------------------------------------------------------------
# K1/K2/K11 — the text-document sinks as oracle-checked LINES (VERDICT r4
# ask #3: same line-shape trick as sink_csv_lines). Three sink-tagged
# lanes over the shared cached frames:
#   'jsonl'      one compact JSON object per bar (K2, models.py:665-698)
#   'json'       the K1 enhanced-JSON batch: its stats header plus the
#                top-10 token payload objects (cli.py:627-699)
#   'prometheus' the K11 text exposition: batch counters/gauges plus
#                per-token price/volume gauges for the top-10, falsy
#                values emitting no line (models.py:701-752)
# Values are rendered with explicit printf patterns IDENTICAL in both
# engines, so the driver row pins the whole pipeline (stats, ranking,
# falsy-skip, label assembly) bit-for-bit; the exporters' shortest-repr
# float rendering (to_json / Python f-strings) stays pinned by the golden
# tests in tests/test_models.py — it has no cross-engine printf analog.
# ---------------------------------------------------------------------------

_BARS_BODY = _BARS_CTE.strip()[len("WITH"):]  # "bars AS (...)" for reuse

_JSONL_FMT = ('{"symbol":"%s","ts":%d,"open":%.8f,"high":%.8f,'
              '"low":%.8f,"close":%.8f,"volume":%.2f,"trades":%d}')
_JSON_STATS_FMT = ('{"type":"enhanced_tokens","total_extracted":%d,'
                   '"high_confidence_count":%d,"complete_profiles_count":%d}')
_JSON_TOKEN_FMT = ('{"symbol":"%s","token_name":"%s","chain":"%s",'
                   '"protocol":"%s","price":%.8f,"volume_24h":%.2f,'
                   '"txns_24h":%d,"liquidity":%.8f,"market_cap":%.8f,'
                   '"confidence_score":%.4f,"field_count":%d}')
_PROM_PRICE_FMT = 'dexscraper_token_price_usd{symbol="%s"} %.8f'
_PROM_VOL_FMT = 'dexscraper_token_volume_24h_usd{symbol="%s"} %.2f'


@register(
    "sink_text_lines",
    _XTOKENS_CTE + ", " + _BARS_BODY + f"""
    , ranked AS (
        SELECT *, CAST(row_number() OVER (
            ORDER BY confidence_score DESC, field_count DESC, symbol ASC)
            AS BIGINT) AS rank
        FROM tokens
    ), top10 AS (
        SELECT * FROM ranked WHERE rank <= 10
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN confidence_score >= 0.7
                             THEN 1 ELSE 0 END) AS BIGINT) AS high,
               CAST(SUM(CASE WHEN field_count >= 5
                              AND confidence_score >= 0.3
                             THEN 1 ELSE 0 END) AS BIGINT) AS complete,
               MAX(ts) AS max_ts
        FROM tokens
    )
    SELECT 'jsonl' AS sink, symbol AS k1, ts AS k2,
           printf('{_JSONL_FMT}', symbol, ts, open, high, low, close,
                  volume, trades) AS line
    FROM bars
    UNION ALL
    SELECT 'json', 'stats', CAST(0 AS BIGINT),
           printf('{_JSON_STATS_FMT}', total, high, complete)
    FROM stats
    UNION ALL
    SELECT 'json', symbol, rank,
           printf('{_JSON_TOKEN_FMT}', symbol, token_name, chain, protocol,
                  price, volume_24h, txns_24h, liquidity, market_cap,
                  confidence_score, field_count)
    FROM top10
    UNION ALL
    SELECT 'prometheus', 'a_total', CAST(0 AS BIGINT),
           printf('dexscraper_tokens_extracted_total %d', total) FROM stats
    UNION ALL
    SELECT 'prometheus', 'b_high', CAST(0 AS BIGINT),
           printf('dexscraper_tokens_high_confidence %d', high) FROM stats
    UNION ALL
    SELECT 'prometheus', 'c_ts', CAST(0 AS BIGINT),
           printf('dexscraper_extraction_timestamp %d', max_ts) FROM stats
    UNION ALL
    SELECT 'prometheus', symbol, rank * 2,
           printf('{_PROM_PRICE_FMT}', symbol, price)
    FROM top10 WHERE price IS NOT NULL AND price != 0.0
    UNION ALL
    SELECT 'prometheus', symbol, rank * 2 + 1,
           printf('{_PROM_VOL_FMT}', symbol, volume_24h)
    FROM top10 WHERE volume_24h IS NOT NULL AND volume_24h != 0.0
    """,
    survey_ref="K1,K2,K11,A1",
)
def sink_text_lines(spark, sf_dir):
    """K1/K2/K11 as line columns (reference models.py:665-752,
    cli.py:627-699): every ``line`` value is the exact text the
    corresponding exporter lane emits under the explicit printf rendering
    documented above. K11's extraction-timestamp gauge uses max(token ts)
    — the engine's determinism conventions forbid wall-clock output."""
    from pyspark.sql import Window
    from dexscraper_spark.operators.topk import top_k
    bars = _bars(spark, sf_dir)
    toks = _excel_tokens(spark, sf_dir)

    zero = F.lit(0).cast("long")

    jsonl = bars.select(
        F.lit("jsonl").alias("sink"), F.col("symbol").alias("k1"),
        F.col("ts").alias("k2"),
        F.format_string(_JSONL_FMT, "symbol", "ts", "open", "high", "low",
                        "close", "volume", "trades").alias("line"))

    order = [F.col("confidence_score").desc(), F.col("field_count").desc(),
             F.col("symbol").asc()]
    top10 = top_k(toks, 10, *order).withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("long"))

    stats = toks.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("confidence_score") >= 0.7, 1).otherwise(0))
        .cast("long").alias("high"),
        F.sum(F.when((F.col("field_count") >= 5)
                     & (F.col("confidence_score") >= 0.3), 1).otherwise(0))
        .cast("long").alias("complete"),
        F.max("ts").alias("max_ts"),
    )

    json_stats = stats.select(
        F.lit("json").alias("sink"), F.lit("stats").alias("k1"),
        zero.alias("k2"),
        F.format_string(_JSON_STATS_FMT, "total", "high", "complete")
        .alias("line"))
    json_tokens = top10.select(
        F.lit("json").alias("sink"), F.col("symbol").alias("k1"),
        F.col("rank").alias("k2"),
        F.format_string(_JSON_TOKEN_FMT, "symbol", "token_name", "chain",
                        "protocol", "price", "volume_24h", "txns_24h",
                        "liquidity", "market_cap", "confidence_score",
                        "field_count").alias("line"))

    def prom_stat(k1: str, fmt: str, col: str):
        return stats.select(
            F.lit("prometheus").alias("sink"), F.lit(k1).alias("k1"),
            zero.alias("k2"), F.format_string(fmt, col).alias("line"))

    prom_price = top10.filter(
        F.col("price").isNotNull() & (F.col("price") != 0.0)
    ).select(
        F.lit("prometheus").alias("sink"), F.col("symbol").alias("k1"),
        (F.col("rank") * 2).alias("k2"),
        F.format_string(_PROM_PRICE_FMT, "symbol", "price").alias("line"))
    prom_vol = top10.filter(
        F.col("volume_24h").isNotNull() & (F.col("volume_24h") != 0.0)
    ).select(
        F.lit("prometheus").alias("sink"), F.col("symbol").alias("k1"),
        (F.col("rank") * 2 + 1).alias("k2"),
        F.format_string(_PROM_VOL_FMT, "symbol", "volume_24h").alias("line"))

    out = jsonl
    for part in (json_stats, json_tokens,
                 prom_stat("a_total", "dexscraper_tokens_extracted_total %d",
                           "total"),
                 prom_stat("b_high", "dexscraper_tokens_high_confidence %d",
                           "high"),
                 prom_stat("c_ts", "dexscraper_extraction_timestamp %d",
                           "max_ts"),
                 prom_price, prom_vol):
        out = out.unionByName(part)
    return out
