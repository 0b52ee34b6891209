"""S1/S2 — a real pushdown-capable source connector as a PySpark Python
DataSource (``pyspark.sql.datasource``).

The reference's source is a WebSocket whose *server* applies the rank/
filter parameters compiled into the subscription URL
(scraper.py:177-246; URL pushdown config.py:254-281) — filtering happens
before bytes reach the client. This connector models exactly that
contract: Spark pushes supported ``Filter``s into the reader via
``pushFilters``, and the reader applies them DURING the frame scan,
before rows materialize into the engine. Unsupported filters are handed
back to Spark, which re-applies them on top (standard V2 pushdown
semantics — the source may be conservative, never wrong).

Source modes (options):
  * ``frames_dir`` — a directory of wire-format frame files (one frame
    per file), one InputPartition per file → embarrassingly parallel
    scan, exactly like partitioned socket shards at scale.
  * ``n_frames``  — deterministic synthetic frames (the test/demo mode;
    stands in for the live socket).

A stream reads synthetic frames, or the live WebSocket feed(s) named by
``endpoints="host:port[,host:port...]"`` (``socket_source``). An option
key the chosen mode does not read is an error, not a silent fallback to
synthetic data.

Pushdown surface: EqualTo / In / GreaterThan(OrEqual) / LessThan(OrEqual)
/ IsNotNull on any decoded column. At 100 TB the win is identical to the
reference's server-side filtering: rows that fail the pushed predicates
are dropped inside the scan partition, never shuffled, never surfaced to
Python↔JVM transfer beyond the scan itself.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    SimpleDataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
)

from dexscraper_spark.sources.decode import DECODED_SCHEMA, parse_frame


@dataclass
class FramePartition(InputPartition):
    """One scan split: a frame file, or a synthetic frame-id range."""
    path: str | None = None
    start_id: int = 0
    end_id: int = 0


def synthetic_payloads(start_id: int, end_id: int, pairs_per_frame: int):
    """The ONE recipe for synthetic wire frames: frame i is
    make_frame(sample_pairs(pairs_per_frame, seed=i % 13)). Batch
    partitions AND streaming offsets both read through this function, so
    the documented stream == batch parity (and the streaming reader's
    bit-identical offset replay) cannot drift between the two paths."""
    from dexscraper_spark.sources.binary import make_frame, sample_pairs
    for i in range(start_id, end_id):
        yield i, make_frame(sample_pairs(pairs_per_frame, seed=i % 13))


_OUT_COLS = tuple(f.name for f in DECODED_SCHEMA.fields)


def _passes(row: dict, pushed: list[Filter]) -> bool:
    for f in pushed:
        col = f.attribute[0]
        v = row.get(col)
        if isinstance(f, IsNotNull):
            if v is None:
                return False
        elif v is None:
            return False
        elif isinstance(f, EqualTo):
            if v != f.value:
                return False
        elif isinstance(f, In):
            if v not in f.value:
                return False
        elif isinstance(f, GreaterThan):
            if not v > f.value:
                return False
        elif isinstance(f, GreaterThanOrEqual):
            if not v >= f.value:
                return False
        elif isinstance(f, LessThan):
            if not v < f.value:
                return False
        elif isinstance(f, LessThanOrEqual):
            if not v <= f.value:
                return False
    return True


def decode_rows(frames, pushed: list[Filter]):
    """The one row path of every dexframes reader (batch scan, synthetic
    stream, socket stream): decode each ``(msg_id, payload)`` frame,
    stamp ``msg_id``, drop rows failing the ``pushed`` predicates, emit
    ``DECODED_SCHEMA`` tuples."""
    for msg_id, payload in frames:
        for rec in parse_frame(payload):
            rec["msg_id"] = msg_id
            if _passes(rec, pushed):
                yield tuple(rec.get(c) for c in _OUT_COLS)


class FrameDataSourceReader(DataSourceReader):
    _SUPPORTED = (EqualTo, In, GreaterThan, GreaterThanOrEqual, LessThan,
                  LessThanOrEqual, IsNotNull)

    def __init__(self, options):
        self.frames_dir = options.get("frames_dir")
        self.n_frames = int(options.get("n_frames", 0) or 0)
        self.pairs_per_frame = int(options.get("pairs_per_frame", 4) or 4)
        self.pushed: list[Filter] = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept every single-column filter of a supported shape; hand
        the rest back to Spark (it re-applies them post-scan)."""
        for f in filters:
            if isinstance(f, self._SUPPORTED) and len(f.attribute) == 1:
                self.pushed.append(f)
            else:
                yield f

    def partitions(self):
        if self.frames_dir:
            files = sorted(
                os.path.join(self.frames_dir, n)
                for n in os.listdir(self.frames_dir)
                if not n.startswith(".")
            )
            return [FramePartition(path=p) for p in files]
        per = 8
        return [FramePartition(start_id=i, end_id=min(i + per, self.n_frames))
                for i in range(0, max(self.n_frames, 1), per)]

    def read(self, partition: FramePartition):
        if partition.path is not None:
            # stable content-free id from the file NAME: crc32, not the
            # built-in hash() — hash(str) is salted per process
            # (PYTHONHASHSEED), so msg_ids would differ run to run
            # whenever the seed-pinning env does not propagate
            import zlib
            name = os.path.basename(partition.path)
            with open(partition.path, "rb") as fh:
                payloads = [(zlib.crc32(name.encode("utf-8")) & 0x7FFFFFFF,
                             fh.read())]
        else:
            payloads = synthetic_payloads(partition.start_id,
                                          partition.end_id,
                                          self.pairs_per_frame)
        return decode_rows(payloads, self.pushed)


_BATCH_OPTIONS = frozenset({"frames_dir", "n_frames", "pairs_per_frame"})
_STREAM_OPTIONS = frozenset({
    "pairs_per_frame", "frames_per_batch", "max_frames", "filters_json",
    "endpoints", "connect_retries", "backoff_base_s", "backoff_cap_s"})


def _check_options(options, known: frozenset, mode: str) -> None:
    """Refuse option keys the mode does not read: a typo (``endpoint``)
    or a retired option (``port``) must not fall back to synthetic rows.
    Spark hands over the user's keys only, lowercased."""
    unknown = sorted(set(options) - known)
    if unknown:
        raise ValueError(
            f"unknown dexframes {mode} option(s) {unknown}; "
            f"known: {sorted(known)}. A live feed is a stream with "
            f"endpoints='host:port[,host:port...]'")


class FrameDataSource(DataSource):
    """``spark.read.format("dexframes")`` — decoded pair rows with
    source-side filter pushdown."""

    @classmethod
    def name(cls) -> str:
        return "dexframes"

    def schema(self):
        return DECODED_SCHEMA

    def reader(self, schema) -> FrameDataSourceReader:
        _check_options(self.options, _BATCH_OPTIONS, "batch")
        return FrameDataSourceReader(self.options)

    def streamReader(self, schema):
        """The socket reader — only when ``endpoints`` names the live
        feed(s); otherwise raise NOT_IMPLEMENTED so Spark falls back to
        :meth:`simpleStreamReader` (pyspark's documented dispatch)."""
        _check_options(self.options, _STREAM_OPTIONS, "stream")
        if self.options.get("endpoints"):
            from dexscraper_spark.sources.socket_source import (
                PartitionedSocketStreamReader)
            return PartitionedSocketStreamReader(self.options)
        from pyspark.errors import PySparkNotImplementedError
        raise PySparkNotImplementedError(
            errorClass="NOT_IMPLEMENTED",
            messageParameters={"feature": "streamReader"},
        )

    def simpleStreamReader(self, schema) -> "FrameSimpleStreamReader":
        return FrameSimpleStreamReader(self.options)


_REGISTERED_SESSIONS: "weakref.WeakSet" = weakref.WeakSet()


def register_frame_source(spark) -> None:
    """Idempotent registration of the ``dexframes`` format (and the conf
    gate Python-source pushdown sits behind). Memoized per SparkSession
    OBJECT (WeakSet), not per application: data-source registrations and
    session confs are session-state, so a sibling session from
    ``spark.newSession()`` (same appId) must register again. Worst case
    for an unseen wrapper of an already-registered session is a harmless
    re-registration — the memo only saves the two py4j round trips a
    per-query registry row should not pay twice."""
    if spark in _REGISTERED_SESSIONS:
        return
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(FrameDataSource)
    _REGISTERED_SESSIONS.add(spark)


# ---------------------------------------------------------------------------
# S1 — the live ingestion path: a streaming variant of the same connector.
#
# The reference's entry point is a WebSocket subscription whose filter/rank
# parameters are compiled into the connect URL, so the SERVER filters the
# stream before bytes arrive (scraper.py:177-246). The streaming reader
# models that exactly: a Filters DSL spec arrives as an option at stream
# definition time ("subscription time"), and rows failing it are dropped
# inside the source scan — never entering the engine. Offsets are frame
# ids; frame payloads are deterministic functions of the frame id, so
# readBetweenOffsets replays any committed range bit-identically
# (exactly-once on restart, like re-reading a Kafka range).
#
# The live feed is the partitioned socket reader (``socket_source``); the
# filter compile below and ``decode_rows`` serve both stream readers.
# ---------------------------------------------------------------------------

# Filters-DSL → decoded-frame column names (subset the frame can serve;
# predicates on absent columns are dropped, as the reference's server
# ignores params it cannot apply).
FRAME_COLUMN_MAP = {
    "liquidity": "liquidity_usd",
    "fdv": "fdv",
    "volume_h24": "volume_h24",
    "price_change_h24": "price_change_h24",
    "market_cap": "fdv",
    "chain": "chain",
    "dex": "protocol",
}
_FRAME_COLS = {"liquidity_usd", "volume_h24", "price_change_h24", "fdv",
               "chain", "protocol"}


def subscription_filters(options) -> list[Filter]:
    """Subscription-time Filters-DSL pushdown, compiled ONCE at stream
    definition from the ``filters_json`` option into the same ``Filter``
    objects batch pushdown receives, and evaluated during the scan by
    ``_passes`` — the Spark-native form of the reference compiling
    filter/rank params into the WebSocket connect URL so the server
    pre-filters the stream (scraper.py:177-246; config.py:254-281). The
    objects are picklable dataclasses, so they ship to executors as is."""
    spec = options.get("filters_json")
    if not spec:
        return []
    import json

    from dexscraper_spark.config import Filters
    flt = Filters(**json.loads(spec))
    ops = {">=": GreaterThanOrEqual, "<=": LessThanOrEqual}
    pushed: list[Filter] = [
        ops[op]((col,), value)
        for col, op, value in flt.range_predicates(FRAME_COLUMN_MAP)
        if col in _FRAME_COLS
    ]
    if flt.chain_ids:
        pushed.append(In(("chain",), tuple(c.value for c in flt.chain_ids)))
    if flt.dex_ids:
        pushed.append(In(("protocol",), tuple(d.value for d in flt.dex_ids)))
    return pushed


class FrameSimpleStreamReader(SimpleDataSourceStreamReader):
    """Streaming reader for ``spark.readStream.format("dexframes")``."""

    def __init__(self, options):
        self.pairs_per_frame = int(options.get("pairs_per_frame", 4) or 4)
        self.frames_per_batch = int(options.get("frames_per_batch", 4) or 4)
        # 0 = unbounded; a bound lets Trigger.AvailableNow drain and stop.
        self.max_frames = int(options.get("max_frames", 0) or 0)
        self._pushed = subscription_filters(options)

    # -- offset protocol ----------------------------------------------------
    def initialOffset(self) -> dict:
        return {"frame": 0}

    def read(self, start: dict):
        s = int(start["frame"])
        e = s + self.frames_per_batch
        if self.max_frames:
            e = min(e, self.max_frames)
            if e <= s:
                return iter(()), {"frame": s}
        # list iterator, not a generator: Spark's prefetch cache
        # copy.copy()s the iterator it hands to the batch planner.
        return iter(list(self._scan(s, e))), {"frame": e}

    def readBetweenOffsets(self, start: dict, end: dict):
        # Frames are pure functions of the frame id → any committed range
        # replays bit-identically after a restart.
        return iter(list(self._scan(int(start["frame"]), int(end["frame"]))))

    def commit(self, end: dict) -> None:
        pass  # nothing to acknowledge: the generator is stateless

    # -- scan ---------------------------------------------------------------
    def _scan(self, start_id: int, end_id: int):
        return decode_rows(synthetic_payloads(start_id, end_id,
                                              self.pairs_per_frame),
                           self._pushed)
