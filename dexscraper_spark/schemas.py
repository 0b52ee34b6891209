"""Canonical StructTypes for the engine's tables.

Derived from the reference data model (FIXTURES.md; ``dexscraper/models.py``):
``TokenProfile`` (models.py:168-210) → ``TOKENS``, ``OHLCData``
(models.py:49-59) → ``OHLC``, metadata-pattern rows (scraper.py:836-843)
→ ``METADATA``, raw frames → ``RAW_MESSAGES``. All columns nullable — the reference model is
fully-Optional and completeness is data-dependent.
"""

from __future__ import annotations

from pyspark.sql import types as T

TOKENS = T.StructType([
    T.StructField("symbol", T.StringType()),
    T.StructField("token_name", T.StringType()),
    T.StructField("chain", T.StringType()),
    T.StructField("protocol", T.StringType()),
    T.StructField("price", T.DoubleType()),
    T.StructField("volume_24h", T.DoubleType()),
    T.StructField("txns_24h", T.LongType()),
    T.StructField("makers", T.LongType()),
    T.StructField("liquidity", T.DoubleType()),
    T.StructField("market_cap", T.DoubleType()),
    T.StructField("boost", T.IntegerType()),
    T.StructField("age", T.StringType()),
    T.StructField("pair_address", T.StringType()),
    T.StructField("creator_address", T.StringType()),
    T.StructField("token_address", T.StringType()),
    T.StructField("quote_address", T.StringType()),
    T.StructField("website", T.StringType()),
    T.StructField("twitter", T.StringType()),
    T.StructField("telegram", T.StringType()),
    T.StructField("change_5m", T.DoubleType()),
    T.StructField("change_1h", T.DoubleType()),
    T.StructField("change_6h", T.DoubleType()),
    T.StructField("change_24h", T.DoubleType()),
    T.StructField("confidence_score", T.DoubleType()),
    T.StructField("field_count", T.IntegerType()),
    T.StructField("record_position", T.LongType()),
    T.StructField("ts", T.LongType()),
])

OHLC = T.StructType([
    T.StructField("symbol", T.StringType()),
    T.StructField("ts", T.LongType()),
    T.StructField("open", T.DoubleType()),
    T.StructField("high", T.DoubleType()),
    T.StructField("low", T.DoubleType()),
    T.StructField("close", T.DoubleType()),
    T.StructField("volume", T.DoubleType()),
    T.StructField("trades", T.LongType()),
])

METADATA = T.StructType([
    T.StructField("kind", T.StringType()),      # address | url | protocol | age_indicator | token
    T.StructField("value", T.StringType()),
    T.StructField("position", T.LongType()),    # byte offset in source frame
    T.StructField("type", T.StringType()),      # SOL_token | potential_contract | twitter | ...
])

RAW_MESSAGES = T.StructType([
    T.StructField("msg_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
])
