"""S1/S2 — the pushdown-capable Python DataSource (sources/frame_source).

Covers: filter pushdown visible in the physical plan and honored inside
the scan, partial pushdown (unsupported filters handed back to Spark),
``isin`` pushdown, refusal of option keys the source does not read, the
frames_dir file mode, and equality with the mapInPandas decode kernel on
identical frames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    jqe = df._jdf.queryExecution()
    return df.sparkSession._jvm.PythonSQLUtils.explainString(jqe, "formatted")


def _source(spark):
    from dexscraper_spark.sources.frame_source import register_frame_source
    register_frame_source(spark)
    return spark.read.format("dexframes")


def test_pushdown_reaches_scan(spark):
    df = (_source(spark).option("n_frames", 8).load()
          .filter((F.col("chain") == "solana")
                  & (F.col("liquidity_usd") >= 51000.0)))
    plan = _plan(df)
    pushed = plan.split("PushedFilters:")[1].split("\n")[0]
    assert "EqualTo(chain,solana)" in pushed
    assert "GreaterThanOrEqual(liquidity_usd,51000.0)" in pushed
    rows = df.collect()
    # only pair j=2 (solana, liquidity 52000) survives per frame
    assert len(rows) == 8
    assert all(r["chain"] == "solana" and r["liquidity_usd"] >= 51000.0
               for r in rows)


def test_partial_pushdown_keeps_results_correct(spark):
    """A contains() filter is not in the supported set — the reader hands
    it back and Spark re-applies it post-scan; results stay correct."""
    df = (_source(spark).option("n_frames", 8).load()
          .filter(F.col("protocol").contains("ray")
                  & (F.col("chain") == "base")))
    rows = df.collect()
    assert len(rows) == 8   # pair j=1: base/raydium
    assert all(r["protocol"] == "raydium" for r in rows)
    plan = _plan(df)
    assert "EqualTo(chain,base)" in plan  # equality still pushed


def test_isin_pushdown_matches_unpushed_filter(spark):
    """``isin`` reaches the scan as an ``In`` filter and keeps the same
    rows as an equivalent predicate Spark cannot push (array_contains
    stays post-scan)."""
    src = _source(spark).option("n_frames", 8).load()
    pushed = src.filter(F.col("chain").isin("solana", "ethereum"))
    assert "In(chain" in _plan(pushed).split("PushedFilters:")[1]
    unpushed = src.filter(F.array_contains(
        F.array(F.lit("solana"), F.lit("ethereum")), F.col("chain")))
    a = sorted(tuple(r) for r in pushed.collect())
    assert a == sorted(tuple(r) for r in unpushed.collect())
    assert len(a) == 16  # pairs j=0,2 per frame are solana


def test_unknown_option_fails_loudly(spark):
    """An option key the chosen mode does not read — a typo such as
    ``endpoint`` or a retired ``port``/``transport`` — must raise, not
    fall back to synthetic frames."""
    from dexscraper_spark.sources.frame_source import FrameDataSource

    schema = FrameDataSource({}).schema()
    with pytest.raises(ValueError, match="endpoints="):
        FrameDataSource({"endpoint": "127.0.0.1:9"}).streamReader(schema)
    with pytest.raises(ValueError, match=r"\['port', 'transport'\]"):
        FrameDataSource({"port": "9", "transport": "ws"}).streamReader(schema)
    with pytest.raises(ValueError, match="endpoints"):
        FrameDataSource({"n_frames": "8",
                         "endpoints": "127.0.0.1:9"}).reader(schema)
    # through Spark: a batch typo fails the scan instead of returning rows
    with pytest.raises(Exception, match="unknown dexframes batch option"):
        _source(spark).option("n_frame", 8).load().count()
    # and a stream typo fails the query instead of draining fake frames
    q = (spark.readStream.format("dexframes")
         .option("endpoint", "127.0.0.1:9").option("max_frames", 2).load()
         .writeStream.format("memory").queryName("typo_mem")
         .trigger(availableNow=True).start())
    with pytest.raises(Exception, match="unknown dexframes stream option"):
        q.awaitTermination(120)
    assert not spark.table("typo_mem").count()


def test_frames_dir_mode_roundtrip(spark, tmp_path):
    from dexscraper_spark.sources.binary import make_frame, sample_pairs
    for i in range(4):
        (tmp_path / f"frame_{i:03d}.bin").write_bytes(
            make_frame(sample_pairs(4, seed=i)))
    df = _source(spark).option("frames_dir", str(tmp_path)).load()
    assert df.count() == 16  # 4 frames x 4 pairs, no filters
    assert df.select("pair_address").distinct().count() > 4


def test_source_matches_decode_kernel(spark):
    """Same frames through the DataSource and through decode_messages
    (mapInPandas) must produce identical rows."""
    import pandas as pd
    from dexscraper_spark.sources.binary import make_frame, sample_pairs
    from dexscraper_spark.sources.decode import decode_messages
    pdf = pd.DataFrame({
        "msg_id": range(8),
        "payload": [make_frame(sample_pairs(4, seed=i % 13)) for i in range(8)],
    })
    kernel = decode_messages(spark.createDataFrame(pdf))
    src = _source(spark).option("n_frames", 8).load()
    cols = sorted(kernel.columns)
    a = sorted(tuple(r) for r in kernel.select(*cols).collect())
    b = sorted(tuple(r) for r in src.select(*cols).collect())
    assert a == b


def test_streaming_source_with_subscription_filters(spark, tmp_path):
    """S1 end-to-end: the streaming frame source with a Filters DSL spec
    pushed at subscription time (the reference's URL-param pushdown,
    scraper.py:177-246) must equal the batch source with the same
    predicate applied — and the filter must act inside the source (every
    surfaced row already satisfies it)."""
    import json

    from pyspark.sql import functions as F
    from dexscraper_spark.sources.frame_source import register_frame_source

    register_frame_source(spark)
    spec = {"liquidity_min": 51_500.0}
    q = (
        spark.readStream.format("dexframes")
        .option("pairs_per_frame", 4)
        .option("frames_per_batch", 3)
        .option("max_frames", 9)
        .option("filters_json", json.dumps(spec))
        .load()
        .writeStream.format("memory").queryName("frame_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    # max_frames bounds the source, so this drains to frame 9 and returns.
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM frame_stream")
    rows = got.collect()
    assert rows, "stream produced no rows"
    assert all(r.liquidity_usd >= 51_500.0 for r in rows)

    batch = (
        spark.read.format("dexframes")
        .option("pairs_per_frame", 4).option("n_frames", 9).load()
        .filter(F.col("liquidity_usd") >= 51_500.0)
    )
    cols = sorted(batch.columns)
    a = sorted(tuple(r) for r in got.select(*cols).collect())
    b = sorted(tuple(r) for r in batch.select(*cols).collect())
    assert a == b


def test_streaming_source_replay_is_deterministic(spark):
    """readBetweenOffsets must regenerate a committed range bit-identically
    (exactly-once restart semantics)."""
    from dexscraper_spark.sources.frame_source import FrameSimpleStreamReader

    r = FrameSimpleStreamReader({"pairs_per_frame": "4",
                                 "frames_per_batch": "5"})
    it, end = r.read(r.initialOffset())
    first = list(it)
    assert end == {"frame": 5}
    replay = list(r.readBetweenOffsets({"frame": 0}, {"frame": 5}))
    assert first == replay
    it2, end2 = r.read(end)
    assert end2 == {"frame": 10}
    assert list(it2) != first  # frames advance with the offset


def test_streaming_source_checkpoint_restart_no_dupes_no_gaps(spark, tmp_path):
    """Stop the stream mid-source and restart from the same checkpoint:
    the offset log must resume exactly where it left off — no duplicated
    and no skipped frames (R3 reconnect semantics on the S1 source)."""
    from dexscraper_spark.sources.frame_source import register_frame_source

    register_frame_source(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run(max_frames: int) -> dict[int, int]:
        q = (
            spark.readStream.format("dexframes")
            .option("pairs_per_frame", 2)
            .option("frames_per_batch", 2)
            .option("max_frames", max_frames)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        rows = spark.read.parquet(out).groupBy("msg_id").count().collect()
        return {r.msg_id: r["count"] for r in rows}

    first = run(6)
    assert sorted(first) == [0, 1, 2, 3, 4, 5]

    # restart from the same checkpoint with more frames available: the
    # query must resume at frame 6 — every frame present exactly once
    # (row counts for frames 0-5 unchanged: nothing re-read), no gaps.
    second = run(12)
    assert sorted(second) == list(range(12))
    assert all(second[m] == first[m] for m in first)


def test_streaming_fdv_filter_is_applied(spark):
    """fdv_min must filter on the decoded fdv column (it was silently
    dropped when the DSL base mapped to an absent market_cap column)."""
    import json

    from dexscraper_spark.sources.frame_source import FrameSimpleStreamReader

    r = FrameSimpleStreamReader({
        "pairs_per_frame": "4", "frames_per_batch": "2",
        "filters_json": json.dumps({"fdv_min": 5_015_000.0}),
    })
    rows = list(r.readBetweenOffsets({"frame": 0}, {"frame": 2}))
    assert rows, "filter should keep the high-fdv pairs"
    unfiltered = list(FrameSimpleStreamReader(
        {"pairs_per_frame": "4", "frames_per_batch": "2"})
        .readBetweenOffsets({"frame": 0}, {"frame": 2}))
    assert len(rows) < len(unfiltered)
