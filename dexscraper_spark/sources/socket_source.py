"""S1 — live network ingestion: the partitioned WebSocket stream reader
with the reference's reconnect/backoff envelope.

The reference's entry point is a long-lived WebSocket subscription with
connect-retry, exponential backoff and resubscription on drop
(scraper.py:177-246). This module is that leg made Spark-native and
testable without network egress. The wire is RFC 6455; the subscription
protocol and its local test server live in ``websocket``.

* ``fetch_frames`` / ``query_latest_seq`` wrap one connection each in
  the retry envelope. Offsets are frame sequence numbers; each fetch
  subscribes from the next unconsumed seq, so a dropped connection
  resumes EXACTLY where it left off — no duplicates, no gaps.
* ``PartitionedSocketStreamReader`` (``DataSourceStreamReader``) is the
  one socket reader: ``spark.readStream.format("dexframes")
  .option("endpoints", "h1:p1[,h2:p2,...]")``. A single live feed is
  ``endpoints="host:port"``. Each micro-batch plans one
  ``InputPartition`` per shard, and each shard subscription is opened
  ON THE EXECUTOR that runs its partition — frame bytes never cross the
  driver. The driver's only network traffic is the O(#shards)
  latest-seq control query per micro-batch. Offsets are per-shard seq
  maps; each planned range is deterministic and replayable from the
  server's history buffer, so the exactly-once contract holds globally.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql.datasource import DataSourceStreamReader, InputPartition

from dexscraper_spark.sources import websocket as ws
from dexscraper_spark.sources.frame_source import (
    decode_rows,
    subscription_filters,
)

# msg_id = shard * SHARD_STRIDE + seq: one int64 carries both shard
# identity and the per-shard frame seq (shard < 2^23, seq < 2^40)
SHARD_STRIDE = 1 << 40


def _backoff(attempt: int, host: str, port: int, retries: int,
             base: float, cap: float, err: OSError) -> None:
    """The scraper.py:177-246 retry envelope: exponential doubling from
    ``base``, capped at ``cap``; past ``retries`` strikes, fail loudly."""
    if attempt > retries:
        raise ConnectionError(
            f"dexframes socket {host}:{port} "
            f"unreachable after {retries} retries") from err
    time.sleep(min(base * (2 ** max(attempt - 1, 0)), cap))


def fetch_frames(host: str, port: int, start_seq: int, max_frames: int, *,
                 connect_retries: int = 8, backoff_base: float = 0.05,
                 backoff_cap: float = 1.0) -> list[tuple[int, bytes]]:
    """Subscribe from ``start_seq``; collect up to ``max_frames``
    (seq, payload) pairs. On a dropped connection, reconnect with capped
    exponential backoff and REsubscribe from the next unconsumed seq —
    consumed frames are never re-requested, so a flaky link can cause
    neither duplicates nor gaps. The retry counter resets after any
    successful frame (a healthy reconnect is not a strike)."""
    frames: list[tuple[int, bytes]] = []
    next_seq = start_seq
    attempt = 0
    while len(frames) < max_frames:
        got_this_attempt = 0
        try:
            for seq, payload in ws.subscribe(host, port, next_seq,
                                             max_frames - len(frames)):
                if seq != next_seq:
                    raise ConnectionError(
                        f"sequence gap: expected {next_seq}, got {seq}")
                frames.append((seq, payload))
                next_seq += 1
                got_this_attempt += 1
                attempt = 0  # healthy frames reset the retry budget
            return frames  # clean completion (maybe short: live tail)
        except OSError as e:
            if got_this_attempt == 0:
                attempt += 1
            _backoff(attempt, host, port, connect_retries, backoff_base,
                     backoff_cap, e)
    return frames


def query_latest_seq(host: str, port: int, *, connect_retries: int = 8,
                     backoff_base: float = 0.05,
                     backoff_cap: float = 1.0) -> int:
    """Control-plane query: the server's current history length (the seq
    one past the newest frame). O(bytes)=one JSON message — this is ALL
    the driver pulls per shard per micro-batch."""
    attempt = 0
    while True:
        try:
            return ws.latest_seq(host, port)
        except OSError as e:
            attempt += 1
            _backoff(attempt, host, port, connect_retries, backoff_base,
                     backoff_cap, e)


@dataclass
class SocketShardPartition(InputPartition):
    """One micro-batch split: a committed seq range on one shard's
    socket. Pure primitives — pickles to the executor that reads it."""
    shard: int
    host: str
    port: int
    start_seq: int
    end_seq: int


class PartitionedSocketStreamReader(DataSourceStreamReader):
    """The S1 leg: ``spark.readStream.format("dexframes")
    .option("endpoints", "h1:p1,h2:p2,...")``.

    The reference runs ONE WebSocket into one process
    (scraper.py:177-246) — here ``endpoints="host:port"``; a
    1000-executor cluster needs N sharded subscriptions with none of the
    bytes funneling through a coordinator. Shape:

    * **Offsets** are per-shard seq maps ``{"0": s0, "1": s1, ...}`` —
      an exactly-once frame-seq contract held independently per shard.
    * **Driver** work per micro-batch is one O(1)-byte latest-seq control
      query per shard (rate-limited advance: at most ``frames_per_batch``
      frames/shard/batch after the first poll), then partition planning.
      No frame payloads.
    * **Executors** open the shard subscription inside ``read()`` — the
      capped-backoff reconnect/resume loop (``fetch_frames``) runs where
      the partition runs, so a flaky shard link stalls only its own task.
    * **Replay**: a planned range is fetched exactly; a short read (the
      server's history no longer covers a committed range) fails LOUDLY
      rather than silently dropping frames.

    ``msg_id`` is ``shard * 2^40 + seq`` so downstream dedup/windowing
    sees globally unique, shard-attributable frame ids; a single
    endpoint is shard 0, so its ``msg_id`` is the frame seq.

    Options: ``endpoints`` (required, "host:port[,host:port...]"),
    ``frames_per_batch`` (per-shard advance cap per micro-batch, default
    4), ``max_frames`` (per-shard total bound — lets availableNow drain
    and stop; 0 = unbounded), ``filters_json`` (subscription-time
    pushdown, same DSL as every other dexframes mode), plus the
    connect_retries/backoff_base_s/backoff_cap_s retry envelope.
    """

    def __init__(self, options):
        self.endpoints: list[tuple[str, int]] = []
        for tok in str(options.get("endpoints", "")).split(","):
            tok = tok.strip()
            if not tok:
                continue
            host, _, port = tok.rpartition(":")
            self.endpoints.append((host or "127.0.0.1", int(port)))
        if not self.endpoints:
            raise ValueError(
                "dexframes socket reader needs endpoints='host:port[,...]'")
        self.frames_per_batch = int(options.get("frames_per_batch", 4) or 4)
        self.max_frames = int(options.get("max_frames", 0) or 0)
        self.connect_retries = int(options.get("connect_retries", 8) or 8)
        self.backoff_base = float(options.get("backoff_base_s", 0.05) or 0.05)
        self.backoff_cap = float(options.get("backoff_cap_s", 1.0) or 1.0)
        self._pushed = subscription_filters(options)
        # driver-side rate-limit memory: the offset latestOffset() last
        # returned. None right after (re)start — the first poll returns
        # the servers' truth (capped by max_frames), and the engine
        # clamps the batch to [checkpointed start, that).
        self._last: dict[str, int] | None = None

    # -- driver: offsets + planning -----------------------------------------
    def initialOffset(self) -> dict:
        return {str(i): 0 for i in range(len(self.endpoints))}

    def latestOffset(self) -> dict:
        out: dict[str, int] = {}
        for i, (host, port) in enumerate(self.endpoints):
            latest = query_latest_seq(
                host, port, connect_retries=self.connect_retries,
                backoff_base=self.backoff_base, backoff_cap=self.backoff_cap)
            if self.max_frames:
                latest = min(latest, self.max_frames)
            if self._last is not None:
                prev = int(self._last[str(i)])
                # advance ≤ frames_per_batch per poll; never regress — a
                # shard restarting with shorter history must fail loudly
                # at read time, not silently rewind the offset log
                latest = max(min(latest, prev + self.frames_per_batch), prev)
            out[str(i)] = latest
        self._last = dict(out)
        return out

    def partitions(self, start: dict, end: dict):
        parts = []
        for i, (host, port) in enumerate(self.endpoints):
            s, e = int(start.get(str(i), 0)), int(end.get(str(i), 0))
            if e > s:
                parts.append(SocketShardPartition(i, host, port, s, e))
        return parts

    # -- executor: the data plane -------------------------------------------
    def read(self, partition: SocketShardPartition):
        want = partition.end_seq - partition.start_seq
        frames = fetch_frames(
            partition.host, partition.port, partition.start_seq, want,
            connect_retries=self.connect_retries,
            backoff_base=self.backoff_base, backoff_cap=self.backoff_cap)
        if len(frames) != want:
            raise ConnectionError(
                f"shard {partition.shard}: planned range "
                f"[{partition.start_seq}, {partition.end_seq}) returned "
                f"{len(frames)} frames — server history no longer covers it")
        base = partition.shard * SHARD_STRIDE
        return decode_rows(((base + seq, payload) for seq, payload in frames),
                           self._pushed)

    def commit(self, end: dict) -> None:
        pass  # server-side history buffer needs no acknowledgement

    def stop(self) -> None:
        pass  # sockets are opened and closed per read()
