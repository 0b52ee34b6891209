"""Streaming pipeline tests: file-source micro-batches through decode →
OHLC → foreachBatch sink (availableNow trigger = bounded run)."""

from __future__ import annotations

import os
import time

from dexscraper_spark.schemas import RAW_MESSAGES
from dexscraper_spark.sources.binary import make_frame, sample_pairs
import pytest


def _write_frame_parquet(spark, path: str, n_frames: int = 3):
    frames = [(i, make_frame(sample_pairs(4, seed=i))) for i in range(n_frames)]
    spark.createDataFrame(frames, schema=RAW_MESSAGES) \
        .write.mode("overwrite").parquet(path)


def _decoded_file_stream(spark, src: str):
    """A parquet frame stream through the decode kernel, with the
    event-time column ``streaming_ohlc`` reads."""
    from pyspark.sql import functions as F
    from dexscraper_spark.sources.decode import decode_messages

    raw = spark.readStream.schema(RAW_MESSAGES).parquet(src)
    return decode_messages(raw).withColumn(
        "event_ts", F.timestamp_seconds("created_at"))


@pytest.mark.slow  # r13 fast-lane split (>10 s)
def test_stream_decode_foreach_batch(spark, tmp_path):
    from dexscraper_spark.streaming.pipeline import run_foreach_batch

    src = str(tmp_path / "frames")
    _write_frame_parquet(spark, src)
    decoded = _decoded_file_stream(spark, src)

    seen: list[tuple[int, int]] = []

    def sink(batch_df, batch_id):
        seen.append((batch_id, batch_df.count()))

    q = run_foreach_batch(decoded, sink, once=True,
                          checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    assert sum(n for _, n in seen) == 12  # 3 frames × 4 pairs


def test_streaming_ohlc_complete_mode(spark, tmp_path):
    from dexscraper_spark.config import Timeframe
    from dexscraper_spark.streaming.pipeline import streaming_ohlc

    src = str(tmp_path / "frames2")
    _write_frame_parquet(spark, src, n_frames=2)
    bars = streaming_ohlc(_decoded_file_stream(spark, src),
                          timeframe=Timeframe.M5)

    q = (bars.writeStream.format("memory").queryName("bars_mem")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM bars_mem").collect()
    assert len(rows) > 0
    for r in rows:
        assert r["low"] <= r["open"] <= r["high"]
        assert r["low"] <= r["close"] <= r["high"]
        assert r["trades"] >= 1


def test_watermarked_ohlc_append_emits_closed_windows(spark, tmp_path):
    """R6: with a watermark, append mode (the mode the feed benchmark
    drives) emits only windows the watermark has closed — the final
    (still-open) window stays unemitted."""
    from pyspark.sql import functions as F

    from dexscraper_spark.config import Timeframe
    from dexscraper_spark.streaming.pipeline import streaming_ohlc

    src = str(tmp_path / "wm_ticks")
    # price p lands at 10:00 + 2p minutes: ten ticks across two 1-hour
    # windows, then one tick at 13:00 that advances the watermark far
    rows = [(i, f"2024-01-01 {10 + 2 * m // 60}:{2 * m % 60:02d}:00",
             float(m)) for i, m in enumerate(range(0, 50, 5))]
    rows += [(10, "2024-01-01 13:00:00", 99.0)]
    spark.createDataFrame(rows, "msg_id long, ts_s string, price double") \
        .select("msg_id", F.lit(0).cast("long").alias("record_position"),
                F.lit("X").alias("base_token_symbol"),
                F.col("price").alias("price_usd"),
                F.lit(1.0).alias("volume_h24"),
                F.to_timestamp("ts_s").alias("event_ts")) \
        .write.parquet(src)

    stream = spark.readStream.schema(
        "msg_id long, record_position long, base_token_symbol string, "
        "price_usd double, volume_h24 double, event_ts timestamp").parquet(src)
    bars = streaming_ohlc(stream, timeframe=Timeframe.H1)
    q = (bars.writeStream.format("memory").queryName("wm_mem")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["t0"]: (r["low"], r["high"], r["trades"])
           for r in spark.sql("SELECT CAST(bucket_ts AS BIGINT) AS t0, * "
                              "FROM wm_mem").collect()}
    base = 1704103200  # 2024-01-01 10:00:00 UTC
    assert base in got and got[base] == (0.0, 25.0, 6)      # 10:00-11:00 closed
    assert base + 3600 in got and got[base + 3600] == (30.0, 45.0, 4)
    assert base + 3600 * 3 not in got  # the 13:00 window is still open


def test_registered_stream_row_leaves_no_memory_view(spark):
    """Each run of ``streaming_ohlc_pipeline`` drops its memory-sink view;
    the returned frame still holds the sink's rows."""
    from dexscraper_spark.plans.registry import queries

    build = queries()["streaming_ohlc_pipeline"]
    for _ in range(2):
        assert len(build(spark, "/root/testdata/sf0.01").collect()) == 20
    left = [t.name for t in spark.catalog.listTables()
            if t.name.startswith("dexstream_bars_")]
    assert left == []


def test_processing_time_trigger_checkpoint_restart(spark, tmp_path):
    """R3 — continuous-trigger soak: a processingTime-triggered query is
    stopped mid-stream and restarted from its checkpoint; the restarted
    query resumes where the first left off, and every input row lands in
    the sink exactly once (no loss, no duplicates)."""
    from dexscraper_spark.schemas import RAW_MESSAGES
    from dexscraper_spark.sources.decode import decode_messages

    src = str(tmp_path / "soak_in")
    out = str(tmp_path / "soak_out")
    ckpt = str(tmp_path / "soak_ckpt")
    os.makedirs(src, exist_ok=True)

    def add_frames(lo: int, hi: int):
        frames = [(i, make_frame(sample_pairs(4, seed=i % 13)))
                  for i in range(lo, hi)]
        spark.createDataFrame(frames, schema=RAW_MESSAGES) \
            .coalesce(1).write.mode("append").parquet(src)

    def start():
        raw = (spark.readStream.schema(RAW_MESSAGES)
               .option("maxFilesPerTrigger", 1).parquet(src))
        return (decode_messages(raw)
                .select("msg_id", "pair_address", "record_position")
                .writeStream.format("parquet").option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(processingTime="1 seconds").start())

    def wait_rows(n: int, timeout: float = 90.0) -> int:
        deadline = time.time() + timeout
        count = 0
        while time.time() < deadline:
            try:
                count = spark.read.parquet(out).count()
            except Exception:
                count = 0
            if count >= n:
                break
            time.sleep(0.5)
        return count

    add_frames(0, 3)
    q = start()
    try:
        assert wait_rows(12) == 12          # 3 frames × 4 pairs
    finally:
        q.stop()                            # kill mid-stream

    add_frames(3, 6)                        # data arrives while down
    q2 = start()                            # restart from the checkpoint
    try:
        assert wait_rows(24) == 24
    finally:
        q2.stop()

    final = spark.read.parquet(out)
    assert final.count() == 24              # no loss
    assert final.select("msg_id", "record_position").distinct().count() == 24  # no dupes
    assert final.select("msg_id").distinct().count() == 6


def test_frame_stream_end_to_end_ohlc(spark, tmp_path):
    """S1 closed end-to-end: dexframes streaming source (filters pushed at
    subscription time) -> event-time watermarked OHLC -> memory sink,
    equal to the identical aggregation over the batch source."""
    from pyspark.sql import functions as F
    from dexscraper_spark.streaming.pipeline import frame_stream, streaming_ohlc

    decoded = frame_stream(spark, pairs_per_frame=4, frames_per_batch=3,
                           max_frames=9, filters={"liquidity_min": 50_500.0})
    bars = streaming_ohlc(decoded, ts_col="event_ts")
    # complete mode: the synthetic frames' event-times all land inside one
    # 5-minute window, which append-mode would hold open forever awaiting
    # the watermark; complete emits the full aggregate every micro-batch,
    # so the final table equals the batch aggregation over all frames.
    q = (bars.writeStream.format("memory").queryName("frame_ohlc")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.sql(
        "SELECT * FROM frame_ohlc").collect())

    # batch twin: same source options, same aggregation expressions
    from dexscraper_spark.sources.frame_source import register_frame_source
    register_frame_source(spark)
    batch = (
        spark.read.format("dexframes")
        .option("pairs_per_frame", 4).option("n_frames", 9).load()
        .filter(F.col("liquidity_usd") >= 50_500.0)
        .withColumn("event_ts", F.timestamp_seconds(F.col("created_at")))
    )
    price = F.col("price_usd")
    order_key = F.struct(F.col("event_ts"), F.col("msg_id"),
                         F.col("record_position"))
    expected = sorted(tuple(r) for r in (
        batch.groupBy(F.col("base_token_symbol").alias("symbol"),
                      F.window("event_ts", "5 minutes").alias("w"))
        .agg(F.min_by(price, order_key).alias("open"),
             F.max(price).alias("high"),
             F.min(price).alias("low"),
             F.max_by(price, order_key).alias("close"),
             F.max_by(F.col("volume_h24"), order_key).alias("volume"),
             F.count(F.lit(1)).alias("trades"))
        .select("symbol", F.col("w.start").alias("bucket_ts"),
                "open", "high", "low", "close", "volume", "trades")
    ).collect())
    assert got and got == expected
