"""Streaming pipeline (SURVEY §2.9): the reference's 5-second poll loop
(scraper.py:1491-1524) re-expressed as ONE Structured Streaming path —
a decoded frame source, watermarked event-time OHLC, a micro-batch sink:

  ``frame_stream`` (or a parquet file stream through ``decode_messages``
  plus ``event_ts``) → ``streaming_ohlc`` → ``run_foreach_batch`` or a
  memory sink.

The registered ``streaming_ohlc_pipeline`` row, the ``stream`` CLI
command and the ``feed_replay`` benchmark all build on these three
functions.

Mapping (R1-R8):
  R1 micro-batch cadence → ``run_foreach_batch``:
                           ``trigger(processingTime='5 seconds')``, or
                           ``availableNow`` for a bounded run
  R2 rate limiting       → source option (``frames_per_batch`` on
                           ``frame_stream``, ``maxFilesPerTrigger`` on a
                           file stream); never driver sleeps
  R3 reconnect/backoff   → Spark restarts failed micro-batches from the
                           checkpoint; no hand-rolled retry loop
  R4 batch timestamping  → not implemented: bars use the event time
                           ``event_ts`` (from ``created_at``), and no
                           processing-time stamp is added per batch
  R5 windows             → event-time tumbling windows (Timeframe →
                           window duration)
  R6 late data           → ``withWatermark`` in ``streaming_ohlc``; append
                           mode emits only closed windows, complete mode
                           reproduces the reference's snapshot semantics
  R7 stateful ops        → windowed OHLC state, bounded by the watermark;
                           the reference's recent-N buffer has no streaming
                           implementation
  R8 stream sink         → ``foreachBatch`` routing to the K1-K11 exporters

Scale notes: the streaming OHLC agg is the same partial-aggregatable plan
as the batch one — state is one row per (symbol, open window); the
watermark bounds state size. For 100 TB/day ingest the source is
partitioned (Kafka partitions ≙ executors), and decode runs per-partition
with zero cross-partition coordination.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dexscraper_spark.config import Timeframe


def frame_stream(spark: SparkSession, *, pairs_per_frame: int = 4,
                 frames_per_batch: int = 4, max_frames: int = 0,
                 filters: dict | None = None) -> DataFrame:
    """S1 live ingestion path: the ``dexframes`` streaming source (offset
    protocol, deterministic replay, subscription-time Filters pushdown —
    the reference's WebSocket URL-param contract, scraper.py:177-246)
    surfaced as the engine-facing decoded stream with the event-time
    column ``event_ts`` that ``streaming_ohlc`` reads.

    ``filters`` is a Filters-DSL kwargs dict (e.g. {"liquidity_min": 5e4})
    applied INSIDE the source scan, before rows enter the engine —
    exactly where the reference's server applies them.
    """
    import json

    from dexscraper_spark.sources.frame_source import register_frame_source

    register_frame_source(spark)
    reader = (
        spark.readStream.format("dexframes")
        .option("pairs_per_frame", pairs_per_frame)
        .option("frames_per_batch", frames_per_batch)
    )
    if max_frames:
        reader = reader.option("max_frames", max_frames)
    if filters:
        reader = reader.option("filters_json", json.dumps(filters))
    return reader.load().withColumn(
        "event_ts", F.timestamp_seconds(F.col("created_at")))


def streaming_ohlc(decoded: DataFrame, *, timeframe: Timeframe = Timeframe.M5,
                   watermark: str = "10 minutes",
                   ts_col: str = "event_ts") -> DataFrame:
    """R5/R6: watermarked event-time tumbling OHLC over the decoded stream.

    ``ts_col`` is the event-time column: ``frame_stream`` adds
    ``event_ts``; a file stream adds it as
    ``timestamp_seconds("created_at")`` after ``decode_messages``.
    open/close ordering uses the composite key (ts, msg_id,
    record_position): rows can share a timestamp, so the key gives the
    deterministic total order, same rule as ohlc_windowed's tiebreak_col.

    ``volume`` is the rolling-24h figure AS OF BAR CLOSE (max_by on the
    order key) — the input rows are snapshots whose ``volume_h24`` is
    already a 24-hour total (models.py:74-77), so summing one per
    snapshot would overcount by the snapshot rate; snapshot-parity keeps
    the latest figure, and max_by is order-independent (bit-reproducible
    at any parallelism).
    """
    if ts_col not in decoded.columns:
        raise ValueError(
            f"ts_col {ts_col!r} not in stream columns {decoded.columns}; "
            f"add it as timestamp_seconds('created_at') after "
            f"decode_messages, or use frame_stream (which adds 'event_ts')")
    price = F.col("price_usd")
    order_key = F.struct(F.col(ts_col), F.col("msg_id"),
                         F.col("record_position"))
    return (
        decoded.withWatermark(ts_col, watermark)
        .groupBy(F.col("base_token_symbol").alias("symbol"),
                 F.window(F.col(ts_col), timeframe.duration).alias("w"))
        .agg(
            F.min_by(price, order_key).alias("open"),
            F.max(price).alias("high"),
            F.min(price).alias("low"),
            F.max_by(price, order_key).alias("close"),
            F.max_by(F.col("volume_h24"), order_key).alias("volume"),
            F.count(F.lit(1)).alias("trades"),
        )
        .select("symbol", F.col("w.start").alias("bucket_ts"),
                "open", "high", "low", "close", "volume", "trades")
    )


def run_foreach_batch(decoded: DataFrame, sink: Callable[[DataFrame, int], None],
                      *, trigger_seconds: int = 5, checkpoint: str | None = None,
                      once: bool = False):
    """R8: route micro-batches to a Python sink callback (which typically
    calls a K1-K11 exporter). Returns the StreamingQuery."""
    writer = decoded.writeStream.foreachBatch(sink)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if once:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
