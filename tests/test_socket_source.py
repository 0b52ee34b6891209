"""S1 live-socket leg: reconnect/backoff envelope over a REAL WebSocket
(reference scraper.py:177-246), no-dupes-no-gaps resume, replay of a
committed range, and the Spark streaming integration through the
dexframes format with a single ``endpoints="host:port"`` feed."""

from __future__ import annotations

import threading
import time

import pytest

from dexscraper_spark.sources.binary import make_frame, sample_pairs
from dexscraper_spark.sources.socket_source import (
    PartitionedSocketStreamReader, SocketShardPartition, fetch_frames)
from dexscraper_spark.sources.websocket import WsFrameSocketServer


def _payloads(n, pairs=4):
    return [make_frame(sample_pairs(pairs, seed=i % 13)) for i in range(n)]


def _fetch(port, start_seq, max_frames, connect_retries=10):
    return fetch_frames("127.0.0.1", port, start_seq, max_frames,
                        connect_retries=connect_retries, backoff_base=0.02,
                        backoff_cap=0.2)


def test_fetch_serves_frames_over_real_socket():
    srv = WsFrameSocketServer(_payloads(5)).start()
    try:
        frames = _fetch(srv.port, 0, 3)
        assert [s for s, _ in frames] == [0, 1, 2]
        # live tail: asking past the history returns a short, clean batch
        assert [s for s, _ in _fetch(srv.port, 3, 10)] == [3, 4]
        assert _fetch(srv.port, 5, 10) == []
    finally:
        srv.kill()


def test_mid_stream_drop_reconnects_without_dupes_or_gaps():
    """fail_after_frames=2 drops EVERY connection after 2 frames with no
    END marker — the fetch must reconnect and resume from the next
    unconsumed seq until the batch is complete."""
    srv = WsFrameSocketServer(_payloads(7), fail_after_frames=2).start()
    try:
        frames = _fetch(srv.port, 0, 7)
        assert [s for s, _ in frames] == list(range(7))  # exactly once each
    finally:
        srv.kill()


def test_server_killed_mid_stream_then_restarted_resumes():
    """Serve some frames over a real socket, KILL the server mid-stream,
    restart it on the same port, and assert the fetch reconnects
    (backoff) and resumes with no dupes and no gaps."""
    payloads = _payloads(6)
    srv = WsFrameSocketServer(payloads, fail_after_frames=2).start()
    port = srv.port
    restarted = {}

    def kill_then_restart():
        time.sleep(0.05)  # let the fetch consume the first frames
        srv.kill()
        time.sleep(0.3)   # the fetch sits in its backoff loop meanwhile
        for _ in range(100):  # rebinding races lingering conns briefly
            try:
                restarted["srv"] = WsFrameSocketServer(
                    payloads, port=port).start()
                return
            except OSError:
                time.sleep(0.05)

    t = threading.Thread(target=kill_then_restart)
    t.start()
    try:
        frames = _fetch(port, 0, 6)
        assert [s for s, _ in frames] == list(range(6))
    finally:
        t.join()
        restarted["srv"].kill()


def test_unreachable_endpoint_fails_loudly_after_retries():
    srv = WsFrameSocketServer(_payloads(1))  # bound but never started
    srv.kill()
    t0 = time.time()
    with pytest.raises(ConnectionError, match="unreachable after 2 retries"):
        _fetch(srv.port, 0, 1, connect_retries=2)
    assert time.time() - t0 >= 0.02 + 0.04  # backoff actually slept


def test_read_between_offsets_replays_committed_range_exactly():
    """A committed seq range re-read by the reader's executor path gives
    identical rows; a range the server's history no longer covers fails
    loudly."""
    srv = WsFrameSocketServer(_payloads(6)).start()
    try:
        r = PartitionedSocketStreamReader(
            {"endpoints": f"127.0.0.1:{srv.port}",
             "backoff_base_s": "0.02"})
        part = SocketShardPartition(0, "127.0.0.1", srv.port, 1, 4)
        rows1 = list(r.read(part))
        rows2 = list(r.read(part))
        assert rows1 == rows2 and len(rows1) == 3 * 4  # 3 frames x 4 pairs
        assert {row[0] for row in rows1} == {1, 2, 3}  # msg_id == seq
        with pytest.raises(ConnectionError, match="history"):
            list(r.read(SocketShardPartition(0, "127.0.0.1", srv.port,
                                             4, 99)))
    finally:
        srv.kill()


def test_spark_stream_over_socket_with_drops_no_dupes(spark, tmp_path):
    """End to end through spark.readStream.format('dexframes') with one
    endpoint: a flaky WebSocket server (drops every connection after 2
    frames) + subscription-time filter pushdown; the drained sink must
    hold each surviving record exactly once, with msg_id == seq."""
    import json

    from pyspark.sql import functions as F

    from dexscraper_spark.sources.frame_source import register_frame_source

    register_frame_source(spark)
    srv = WsFrameSocketServer(_payloads(6), fail_after_frames=2).start()
    try:
        q = (spark.readStream.format("dexframes")
             .option("endpoints", f"127.0.0.1:{srv.port}")
             # one batch spans the whole history; fail_after=2 still
             # forces 3 reconnects inside this single fetch
             .option("frames_per_batch", "6")
             .option("backoff_base_s", "0.02")
             .option("filters_json", json.dumps({"chain_ids": ["solana"]}))
             .load()
             .writeStream.format("memory").queryName("sock_mem")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)
        got = (spark.table("sock_mem")
               .groupBy("msg_id", "record_position")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.max("chain").alias("chain")).collect())
        assert {r["msg_id"] for r in got} == set(range(6))  # msg_id == seq
        assert len(got) == 6 * 2   # both solana pairs of every frame
        assert all(r["n"] == 1 for r in got)          # no dupes
        assert all(r["chain"] == "solana" for r in got)  # pushdown applied
    finally:
        srv.kill()


@pytest.mark.parametrize("fail_after,n_frames,batch", [
    (1, 7, 7), (3, 8, 8), (2, 5, 3), (1, 2, 2),
])
def test_fetch_resume_across_drop_points(fail_after, n_frames, batch):
    """Resume correctness holds wherever the connection drops: any
    fail_after/batch combination yields each seq exactly once, in order."""
    srv = WsFrameSocketServer(_payloads(n_frames),
                              fail_after_frames=fail_after).start()
    try:
        got = []
        seq = 0
        while seq < n_frames:
            frames = _fetch(srv.port, seq, batch)
            if not frames:
                break
            got.extend(s for s, _ in frames)
            seq = got[-1] + 1
        assert got == list(range(n_frames))
    finally:
        srv.kill()
