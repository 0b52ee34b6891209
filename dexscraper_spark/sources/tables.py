"""Parquet table loaders for the driver testdata.

The only wrinkle: ``events.parquet`` stores ``ts`` as INT64
TIMESTAMP(NANOS, isAdjustedToUTC=false), which Spark's vectorized reader
rejects by default (PARQUET_TYPE_ILLEGAL). We flip
``spark.sql.legacy.parquet.nanosAsLong`` and convert the nano longs to a
micro-precision ``TimestampType`` ourselves (plus keep micro-truncated
nanos in ``ts_ns`` for total-order tiebreaks — micros×1000 in BOTH loader
branches, so the tiebreak order is Spark-version-invariant). Session-tz is
pinned UTC so the conversion is engine-portable.

Resolved tables are memoized per (appId, sf_dir, name) — kind "table"
in the persist layer, dropped by registry.clear_plan_cache(): a long-lived
engine process resolves each table once (file listing, schema, the
documents repartition probe) instead of once per query — the same catalog
behavior a warehouse gives prepared statements. The underlying scan is
still lazy/pruned per query; only the *resolution* is reused.

Scale note: this stays a plain parquet scan — pushdown/pruning still work
on every other column, and the ts conversion is one codegen'd projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dexscraper_spark.persist import get_or_build
from dexscraper_spark.session import tune_session


def _byte_conf(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-string conf ('134217728', '134217728b',
    '128m', '1g', ...) without touching JVM internals."""
    import re
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    m = re.fullmatch(r"(\d+)\s*([kmgt]?)b?", raw)
    if not m:
        return default
    return int(m.group(1)) * {"": 1, "k": 1 << 10, "m": 1 << 20,
                              "g": 1 << 30, "t": 1 << 40}[m.group(2)]


def _local_sizes(files: list[str]) -> list[int] | None:
    """Byte sizes of locally-statable scan files; None when any file is
    on a remote FS or cannot be stat'ed."""
    import os

    try:
        sizes = []
        for uri in files:
            path = uri
            if path.startswith("file:"):
                path = path[5:]
                while path.startswith("//"):
                    path = path[1:]
            elif "://" in path:
                return None
            sizes.append(os.path.getsize(path))
        return sizes
    except OSError:
        return None


def _estimate_scan_partitions(spark: SparkSession, sizes: list[int],
                              par: int) -> int:
    """Spark's FilePartition sizing over the scan's file ``sizes``,
    re-derived: maxSplitBytes = min(maxPartitionBytes,
    max(openCostInBytes, totalPadded/cores)), partitions ≈
    ceil(totalPadded / maxSplitBytes)."""
    import math

    open_cost = _byte_conf(spark, "spark.sql.files.openCostInBytes",
                           4 << 20)
    max_pb = _byte_conf(spark, "spark.sql.files.maxPartitionBytes",
                        128 << 20)
    total = sum(sizes) + open_cost * len(sizes)
    max_split = min(max_pb, max(open_cost, total / max(par, 1)))
    return max(1, math.ceil(total / max_split))


# Tables smaller than this stay at Spark's own split count. Two reasons,
# both measured (r13 interleaved A/B): (a) dimension-shaped tables
# (region..customer) cost task scheduling, not map compute; (b) tables
# whose consumers are Python-eval nodes (embeddings at bench SFs: 780 KB,
# 2k rows → 62-row batches across 32 tasks) pay a per-task Python
# round-trip that tiny batches never amortize — widening embeddings
# measured a NET LOSS (similarity_lsh_bucketed 0.84→1.1 s min,
# dedup_embedding_cosine +0.02 s, vs only +0.08 s won on similarity_topk).
# The byte floor handles both and self-corrects with scale: once a table
# is MBs+, per-task batches are thousands of rows and widening pays
# everywhere.
_WIDEN_MIN_BYTES = 1 << 20

# Target bytes per widened partition. Widening to the FULL session
# parallelism regardless of size was a measured net loss (r13
# interleaved A/B): expression-heavy suites over events won 1.6-2.9×,
# but every cheap query over the same table paid ~50-100 ms of extra
# 32-task stage scheduling (set_ops 0.24→0.55 s, rank_trending
# 0.21→0.29 s). Sizing partitions to the DATA bounds the task count for
# small tables (events at sf0.1: 2 MB → 8 parts) while big tables still
# reach full parallelism — the same data-sized-not-core-sized rule the
# bench uses for reducers (guide §2.2: fewer, larger partitions).
_WIDEN_SPLIT_BYTES = 256 << 10

# documents' own split: its consumers are far CPU-denser per BYTE than
# the fact tables (regex/shingle/MinHash pipelines, Arrow text kernels),
# so its partitions are sized 4× smaller. The historical always-full-par
# target overshot once the r13 kernels got cheap per row: 32 tasks of
# ~156 docs at sf0.1 are per-task-overhead-bound — measured interleaved
# (64 KiB split → 10 parts): text_metrics 0.26-0.28→0.17-0.18 s,
# dedup_exact_docs 0.17-0.21→0.10-0.13 s, dedup_minhash_lsh
# 0.45-0.47→0.39-0.45 s, nothing outside noise got slower; the generic
# 256 KiB split (3 parts) lost the shingle-heavy rows (dedup_minhash_lsh
# 0.51, text_lang 0.22) so it is NOT dense enough for this family. At
# sf1+ (≥6 MB) the 64 KiB split reaches the parallelism cap anyway —
# the constant only shapes tiny-corpus layouts.
_WIDEN_SPLIT_BYTES_DOCS = 64 << 10


def _widen_narrow_scan(spark: SparkSession, df: DataFrame,
                       min_bytes: int = _WIDEN_MIN_BYTES,
                       split_bytes: int = _WIDEN_SPLIT_BYTES) -> DataFrame:
    """CPU-dense rows, tiny bytes (guide §2.2 fewer-idle-cores / §6 input
    split sizing): each bench table ships as ONE parquet file far below
    maxPartitionBytes, so the file-split rule runs every downstream map
    stage on 1–3 tasks no matter how many cores the session has —
    measured at sf0.1: events = 1 split for 100k rows, orders 1,
    lineitem 3; every scalar/filter/aggregate suite over them was
    (near-)serial on a 32-thread session, which is exactly the
    scaling≈1.0 signature the r12 scaling block recorded. Originally
    only ``documents`` was widened (regex/shingle/hash pipelines);
    r13 generalizes the rule to every table above _WIDEN_MIN_BYTES,
    because the same rows-cost-more-than-bytes argument holds for the
    events/orders/lineitem expression suites and the embeddings fold
    kernels. The target is data-sized — ceil(bytes / split_bytes),
    capped at the session parallelism; ``split_bytes`` lets a
    CPU-denser-per-byte family (documents) size its partitions smaller
    than the generic constant. Widening is a one-time deterministic round-robin shuffle
    of the raw bytes (sortBeforeRepartition is on) performed once per
    (app, sf_dir, table) before the table is cached; results are
    layout-independent by the repo's exactness discipline (integer-cent
    money sums, decimal accumulators, pinned window tiebreaks — audited
    r13, no float-order aggregate reads these tables). At real scale
    the file count/size makes est >= par and this is a no-op.

    Estimate the scan's actual split count the way Spark's
    FilePartition packer does (file sizes padded by openCostInBytes
    over maxSplitBytes) — a raw file-count check misses the
    many-tiny-files layout, where >= cores files still pack into
    < cores partitions. Scans whose files cannot be stat'ed locally
    (remote FS URIs) are never widened: they keep Spark's own split."""
    sizes = _local_sizes(df.inputFiles())
    if sizes is None or sum(sizes) < min_bytes:
        # dimension-shaped or unstatable: keep Spark's split
        return df
    par = spark.sparkContext.defaultParallelism
    target = min(par, -(-sum(sizes) // max(split_bytes, 1)))
    if _estimate_scan_partitions(spark, sizes, par) < target:
        return df.repartition(target)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return get_or_build(spark, "table", (sf_dir, name),
                        lambda: _resolve_table(spark, sf_dir, name))


def _resolve_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    if name == "events":
        df = _load_events(spark, sf_dir)
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # documents keeps an unconditional (no byte floor) widening — its
    # regex/shingle/hash consumers have been CPU-dense-per-row since r9 —
    # but r13 sizes the target to the data with the family's own denser
    # split (_WIDEN_SPLIT_BYTES_DOCS) instead of always-full-par:
    # 32 tasks of ~156 docs at sf0.1 were per-task-overhead-bound once
    # the Arrow kernels got cheap per row (the 8-core-beats-32 signature
    # VERDICT r12 flagged). Everything else goes through the
    # byte-floored, generic data-sized rule.
    if name == "documents":
        return _widen_narrow_scan(spark, df, min_bytes=0,
                                  split_bytes=_WIDEN_SPLIT_BYTES_DOCS)
    return _widen_narrow_scan(spark, df)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events(event_id, ts timestamp, ts_ns long, user_id, event_type,
    value, props) — ts truncated to micros (identical to DuckDB's read).

    ``ts_ns`` is micro-truncated in both branches (micros×1000): the file's
    sub-microsecond digits are all zero today (pinned by
    tests/test_tables_schema.py), and deriving from micros keeps the
    tiebreak column bit-identical whether the runtime reads raw nano longs
    (Spark ≤3.x nanosAsLong) or TIMESTAMP_NTZ (Spark 4.x)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dtype = dict(raw.dtypes)["ts"]
    if ts_dtype == "bigint":
        # Spark <=3.x with nanosAsLong: raw INT64 nanos → truncate to micros.
        return raw.select(
            "event_id",
            F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
            (F.expr("ts div 1000") * 1000).cast("long").alias("ts_ns"),
            "user_id", "event_type", "value", "props",
        )
    # Spark 4.x reads TIMESTAMP(NANOS, adjUTC=false) as TIMESTAMP_NTZ,
    # already micro-truncated. Cast to TimestampType (identity under the
    # UTC-pinned session) so both branches emit an identical schema.
    ts = F.col("ts").cast("timestamp")
    return raw.select(
        "event_id",
        ts.alias("ts"),
        (F.unix_micros(ts) * 1000).cast("long").alias("ts_ns"),
        "user_id", "event_type", "value", "props",
    )
