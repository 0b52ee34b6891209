"""Filters/RankBy DSL compiler tests (mirrors the intent of the reference's
test_config.py:82-257 — serialization goldens become predicate goldens)."""

from __future__ import annotations

from dexscraper_spark.config import (
    DEX, Chain, Filters, Order, Presets, RankBy, ScrapingConfig, Timeframe,
)


def test_filters_to_sql_renders_all_set_bounds():
    f = Filters(chain_ids=[Chain.SOLANA], liquidity_min=10_000,
                volume_h24_min=50_000, txns_h24_min=100,
                price_change_h24_max=500.0)
    sql = f.to_sql()
    assert "liquidity >= 10000" in sql
    assert "volume_24h >= 50000" in sql
    assert "txns_24h >= 100" in sql
    assert "change_24h <= 500.0" in sql
    assert "chain IN ('solana')" in sql
    # unset bounds contribute nothing
    assert "volume_6h" not in sql and "market_cap" not in sql


def test_filters_empty_is_true():
    assert Filters().to_sql() == "TRUE"


def test_filters_column_map_retarget():
    f = Filters(liquidity_min=5.0)
    assert "l_extendedprice >= 5.0" in f.to_sql({"liquidity": "l_extendedprice"})


def test_filters_compile_to_column_filters_rows(spark):
    from pyspark.sql import Row
    df = spark.createDataFrame([
        Row(chain="solana", protocol="pumpfun", liquidity=20_000.0),
        Row(chain="solana", protocol="orca", liquidity=1_000.0),
        Row(chain="base", protocol="aerodrome", liquidity=99_000.0),
    ])
    f = Filters(chain_ids=[Chain.SOLANA], liquidity_min=10_000)
    out = df.filter(f.to_column()).collect()
    assert len(out) == 1 and out[0]["protocol"] == "pumpfun"


def test_dex_membership():
    f = Filters(dex_ids=[DEX.PUMPFUN, DEX.RAYDIUM])
    assert "protocol IN ('pumpfun', 'raydium')" in f.to_sql()


def test_scraping_config_apply(spark):
    from pyspark.sql import Row
    df = spark.createDataFrame([
        Row(chain="solana", volume_24h=float(v), confidence_score=0.5)
        for v in (10, 30, 20, 40)
    ])
    cfg = ScrapingConfig(filters=Filters(chain_ids=[Chain.SOLANA]),
                         rank_by=RankBy.VOLUME, order=Order.DESC, limit=2)
    out = [r["volume_24h"] for r in cfg.apply(df).collect()]
    assert out == [40.0, 30.0]


def test_trending_preset_tracks_timeframe():
    cfg = Presets.trending(timeframe=Timeframe.H1)
    assert cfg.rank_by == RankBy.TRENDING_SCORE_H1
    assert cfg.filters.liquidity_min == 10_000
    cfg24 = Presets.trending(timeframe=Timeframe.H24)
    assert cfg24.rank_by == RankBy.TRENDING_SCORE_H24


def test_gainers_preset_ranks_by_change():
    assert Presets.gainers(timeframe=Timeframe.H6).rank_by == RankBy.PRICE_CHANGE_H6


def test_pumpfun_preset():
    cfg = Presets.pumpfun_trending()
    assert DEX.PUMPFUN in cfg.filters.dex_ids
    assert cfg.filters.max_launchpad_progress == 95.0
    assert cfg.timeframe == Timeframe.M5


def test_timeframe_durations():
    assert Timeframe.M5.duration == "5 minutes"
    assert Timeframe.H24.seconds == 86400


def test_apply_derives_trending_score(spark):
    """RankBy.TRENDING_* derives the volume×change×activity blend on the
    fly (the reference can only request the server's trendingScore;
    config.py:30-45) and ranks by it."""
    from pyspark.sql import Row
    df = spark.createDataFrame([
        Row(chain="solana", symbol="A", volume_24h=1_000_000.0,
            change_1h=50.0, txns_24h=5000),
        Row(chain="solana", symbol="B", volume_24h=1_000.0,
            change_1h=-20.0, txns_24h=10),
        Row(chain="solana", symbol="C", volume_24h=200_000.0,
            change_1h=900.0, txns_24h=800),
    ])
    cfg = ScrapingConfig(filters=Filters(chain_ids=[Chain.SOLANA]),
                         rank_by=RankBy.TRENDING_SCORE_H1,
                         order=Order.DESC, limit=3)
    rows = cfg.apply(df).collect()
    assert [r["symbol"] for r in rows] == ["A", "C", "B"]
    # the blend: 0.5·v/(v+1e5) + 0.3·clamp(chg/100) + 0.2·t/(t+1e3)
    a = rows[0]["trending_score"]
    assert abs(a - (0.5 * (1e6 / 1.1e6) + 0.3 * 0.5 + 0.2 * (5000 / 6000))) < 1e-12
    # change clamps at +100%
    c = rows[1]["trending_score"]
    assert abs(c - (0.5 * (2e5 / 3e5) + 0.3 * 1.0 + 0.2 * (800 / 1800))) < 1e-12


def test_filters_coerce_enum_strings_from_json():
    """A Filters spec round-tripped through JSON (streaming filters_json,
    config files) hands back plain strings — the dataclass must coerce
    them to the enums so downstream `.value` access works."""
    import json, dataclasses
    from dexscraper_spark.config import DEX, Chain, Filters
    f = Filters(chain_ids=[Chain.SOLANA], dex_ids=[DEX.RAYDIUM],
                liquidity_min=5.0)
    spec = {k: v for k, v in dataclasses.asdict(f).items()
            if v not in (None, [], ())}
    back = Filters(**json.loads(json.dumps(spec)))
    assert back.chain_ids == [Chain.SOLANA]
    assert back.dex_ids == [DEX.RAYDIUM]
    assert back.chain_ids[0].value == "solana"


def test_filters_warns_on_skipped_unknown_column(spark, caplog):
    """ADVICE r4: a bound aimed at a column the frame lacks (column_map
    typo) must log a warning, while the known server-side-only DSL
    columns (pair_age_hours, launchpad_progress, ...) skip silently."""
    import logging
    from dexscraper_spark.config import Filters
    f = Filters(liquidity_min=1.0, pair_age_min=2.0)
    with caplog.at_level(logging.WARNING, logger="dexscraper_spark.config"):
        f.to_column(column_map={"liquidity": "liqudity_typo"},
                    available_columns={"liquidity", "pair_age"})
    msgs = [r.message for r in caplog.records]
    assert any("liqudity_typo" in m for m in msgs)
    assert not any("pair_age_hours" in m for m in msgs)
