"""Data-lake layout writers — how the engine's tables persist at 100 TB.

The reference writes flat files per batch; at scale the layout IS the
performance model:

* ``write_tokens``: partition by ``chain`` (low-cardinality, the dominant
  filter dimension — partition pruning turns chain-scoped queries into
  directory listings), sort within files by ``confidence_score`` so
  top-k scans stop early under parquet min/max stats.
* ``write_ohlc``: partition by ``symbol_bucket`` (hash of symbol mod N —
  bounded directory fan-out even with millions of symbols) + ``bar_date``;
  time-range queries prune to day directories.
* ``write_bucketed``: saveAsTable with ``bucketBy(key)`` — repeated joins
  on the key (the orders⋈lineitem pattern) become shuffle-free, both
  sides pre-clustered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_tokens(tokens: DataFrame, path: str, *,
                 files_per_chain: int = 16, mode: str = "overwrite") -> None:
    # salt the repartition: a bare repartition("chain") funnels each
    # chain (≤ a handful of values, one dominant) through ONE task — the
    # exact hot-key straggler/OOM that salting prevents. Two past
    # failure modes shape this:
    #   * the salt must come from a HIGH-CARDINALITY column —
    #     confidence_score collapses to ~6 discrete values here
    #     (record_confidence caps at 0.95), reaching at most 6 buckets
    #     and leaving the dominant capped value on one task;
    #   * the partition COUNT must be explicit — an unnumbered
    #     repartition is an AQE coalescing target, which merges the
    #     write back into one task on small batches.
    # Each of the ``files_per_chain`` tasks holds a uniform row sample of
    # every chain; the dynamic-partition writer splits it per chain
    # directory, so each chain writes files_per_chain sorted files (the
    # knob is simultaneously the write parallelism). Rows are sorted
    # (chain, confidence desc) within tasks so min/max early-stop still
    # holds per file.
    salt_cols = [c for c in ("token_address", "msg_id") if c in tokens.columns]
    if not salt_cols:
        # no id-like column: hash the whole row — minus MapType columns
        # (at any nesting), which xxhash64 rejects at analysis time
        from pyspark.sql.types import ArrayType, MapType, StructType

        def hashable(dt) -> bool:
            if isinstance(dt, MapType):
                return False
            if isinstance(dt, ArrayType):
                return hashable(dt.elementType)
            if isinstance(dt, StructType):
                return all(hashable(f.dataType) for f in dt.fields)
            return True

        salt_cols = [f.name for f in tokens.schema.fields
                     if hashable(f.dataType)]
        if not salt_cols:
            raise ValueError(
                "write_tokens: no hashable column to salt the repartition "
                "— add an id column (token_address / msg_id)")
    salt = F.xxhash64(*[F.col(c) for c in salt_cols], F.lit(7))
    (tokens
     .repartition(files_per_chain, salt)
     .sortWithinPartitions(F.col("chain"),
                           F.col("confidence_score").desc_nulls_last())
     .write.mode(mode).partitionBy("chain").parquet(path))


def write_ohlc(bars: DataFrame, path: str, *, n_symbol_buckets: int = 64,
               ts_col: str = "bucket_ts", mode: str = "overwrite") -> None:
    out = (bars
           .withColumn("symbol_bucket",
                       F.pmod(F.xxhash64("symbol"), F.lit(n_symbol_buckets)))
           .withColumn("bar_date", F.to_date(F.col(ts_col).cast("timestamp"))))
    (out.repartition("symbol_bucket", "bar_date")
     .write.mode(mode).partitionBy("symbol_bucket", "bar_date").parquet(path))


def write_bucketed(df: DataFrame, table: str, *, key: str,
                   n_buckets: int = 32, mode: str = "overwrite") -> None:
    (df.write.mode(mode)
     .bucketBy(n_buckets, key).sortBy(key)
     .format("parquet").saveAsTable(table))


# ---------------------------------------------------------------------------
# Z-order clustering — multi-dimensional data skipping (public technique:
# Morton/Z-curve interleaving over per-column RANKS, the layout behind
# Delta Lake's OPTIMIZE ZORDER and standard spatial indexing). A single-
# column sort gives parquet min/max pruning on that column only;
# interleaving the bit-planes of several columns' ranks clusters rows so
# EVERY interleaved column has narrow min/max ranges per row group — a
# selective predicate on any subset of them skips most files/row groups
# at the scan.
# ---------------------------------------------------------------------------

_Z_NUMERIC = {"byte", "short", "integer", "long", "float", "double",
              "decimal"}
_Z_TEMPORAL = {"timestamp", "timestamp_ntz", "date"}


def _z_as_num(df: DataFrame, c: str):
    t = df.schema[c].dataType.typeName()
    col = F.col(c)
    if t in _Z_TEMPORAL:
        return col.cast("timestamp").cast("double")
    if t not in _Z_NUMERIC:
        raise TypeError(
            f"zorder_key: column {c!r} has type {t}, not orderable-"
            f"numeric; cast or hash it explicitly first")
    col = col.cast("double")
    # scrub NaN -> NULL: NaN wins every max() and would poison the
    # cut points; as a value it belongs with NULLs in bucket 0
    return F.when(F.isnan(col), F.lit(None)).otherwise(col)


def _z_bits(k: int, bits: int | None) -> int:
    if not 2 <= k <= 4:
        raise ValueError("zorder wants 2-4 columns")
    if bits is None:
        bits = min(8, 63 // k)
    if bits < 1:
        # bits=0 would silently write ONE unordered curve segment while
        # reporting success — the silent-failure class zorder_key's
        # type check exists to prevent
        raise ValueError(f"bits must be >= 1, got {bits}")
    if bits * k > 63:
        raise ValueError(f"{bits} bits x {k} cols exceeds a long")
    return bits


def zorder_cuts(df: DataFrame, cols: list[str], *,
                bits: int | None = None) -> dict:
    """Sampled equi-depth cut points per column — the persistable part
    of the layout (one approxQuantile pass over all columns). Dedup'd:
    heavy values repeat across quantiles."""
    k = len(cols)
    bits = _z_bits(k, bits)
    nbuckets = 1 << bits
    numeric = df.select(*[_z_as_num(df, c).alias(f"__z_{i}")
                          for i, c in enumerate(cols)])
    probs = [i / nbuckets for i in range(1, nbuckets)]
    quantiles = numeric.stat.approxQuantile(
        [f"__z_{i}" for i in range(k)], probs, 1.0 / (4 * nbuckets))
    return {c: sorted(set(quantiles[j])) for j, c in enumerate(cols)}


def zorder_key(df: DataFrame, cols: list[str], *,
               bits: int | None = None, cuts: dict | None = None):
    """Morton key Column over 2-4 columns: each column is EQUI-DEPTH
    bucketed to 2^bits ranks via sampled quantile cut points
    (rank-based, so a single outlier cannot collapse the other rows'
    buckets the way min/max value-scaling would), then the rank bits
    are interleaved. NULL and NaN rank lowest (bucket 0), clustering
    together instead of scattering. Numeric and timestamp/date columns
    only — anything else raises (a string silently casting to all-null
    would write an unclustered layout while reporting success).

    ``bits=None`` picks min(8, 63 // len(cols)) — 256 buckets per
    dimension discriminates file-level stats up to ~thousands of files
    while keeping the quantile pass cheap. Pass ``cuts`` (from
    ``zorder_cuts`` or ``zorder_spec_load``) to key a DELTA batch with
    the TABLE's cut points — appended files then cluster consistently
    with the existing layout instead of re-deriving skewed delta-local
    buckets."""
    bits = _z_bits(len(cols), bits)
    if cuts is None:
        cuts = zorder_cuts(df, cols, bits=bits)
    k = len(cols)
    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        ccuts = cuts.get(c) or []
        if ccuts:
            # rank = #cuts <= v (equi-depth bucket); NULL/NaN -> 0
            v = _z_as_num(df, c)
            rank = F.coalesce(
                F.size(F.filter(
                    F.lit([float(x) for x in ccuts])
                    .cast("array<double>"),
                    lambda cut: v >= cut)),
                F.lit(0)).cast("long")
        else:
            rank = F.lit(0).cast("long")  # constant/empty/all-null col
        # interleave: bit i of rank j lands at position i*k + j
        for i in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(rank, i).bitwiseAND(F.lit(1)),
                            i * k + j))
    return key


def zorder_spec_save(spark, path: str, *, cols: list[str], bits: int,
                     cuts: dict) -> None:
    """Persist the layout spec next to the table (``<path>/_zorder``):
    column order, bits, and each column's cut points — everything an
    append needs to key new data identically."""
    rows = [(i, c, bits, [float(x) for x in cuts[c]])
            for i, c in enumerate(cols)]
    spark.createDataFrame(
        rows, "pos int, col string, bits int, cuts array<double>") \
        .coalesce(1).write.mode("overwrite").parquet(f"{path}/_zorder")


def zorder_spec_load(spark, path: str) -> tuple:
    """(cols, bits, cuts) from a table written by write_zordered."""
    rows = spark.read.parquet(f"{path}/_zorder").collect()
    if not rows:
        raise ValueError(f"empty z-order spec at {path}/_zorder")
    rows.sort(key=lambda r: r.pos)
    cols = [r.col for r in rows]
    if len(set(cols)) != len(cols) or len({r.bits for r in rows}) != 1:
        raise ValueError(f"corrupt z-order spec at {path}/_zorder")
    return cols, rows[0].bits, {r.col: list(r.cuts) for r in rows}


def _write_curve(keyed: DataFrame, path: str, *, n_files: int,
                 mode: str = "overwrite") -> None:
    """One curve-segment write: contiguous Z-ranges per file (range
    partition — a hash repartition would scatter the curve), sorted
    within files, key dropped. Shared by write and append so the
    layout can never silently diverge between them."""
    (keyed.repartitionByRange(n_files, "__zkey")
     .sortWithinPartitions("__zkey")
     .drop("__zkey")
     .write.mode(mode).parquet(path))


def write_zordered(df: DataFrame, path: str, *, cols: list[str],
                   bits: int | None = None, n_files: int = 32,
                   mode: str = "overwrite") -> None:
    """Write parquet clustered on the Z-curve of ``cols``: range-
    partition by the Morton key (contiguous curve segments per file —
    a hash repartition would scatter the curve and destroy locality),
    sort within files, drop the key. Readers need nothing special:
    parquet min/max stats on the ORIGINAL columns do the pruning via
    ordinary predicate pushdown; the spec written to ``<path>/_zorder``
    lets ``append_zordered`` cluster nightly deltas consistently.
    Measured (200k uniform 2-d rows, 64 files): a 5%-selective
    predicate on EITHER column overlaps 12-17/64 row groups —
    unchanged with a 1e9 outlier row injected (equi-depth ranks absorb
    it) — while the single-column-sorted baseline overlaps 64/64 on
    its off-axis column.

    ``df`` is persisted for the duration (tracked via persist.py): the
    quantile pass and the write would otherwise each recompute the
    upstream plan."""
    from dexscraper_spark.persist import tracked_persist

    k = len(cols)
    bits = _z_bits(k, bits)
    pinned = tracked_persist(df)
    try:
        cuts = zorder_cuts(pinned, cols, bits=bits)
        keyed = pinned.withColumn(
            "__zkey", zorder_key(pinned, cols, bits=bits, cuts=cuts))
        _write_curve(keyed, path, n_files=n_files, mode=mode)
    finally:
        pinned.unpersist()
    zorder_spec_save(df.sparkSession, path, cols=cols, bits=bits,
                     cuts=cuts)


def append_zordered(df: DataFrame, path: str, *,
                    n_files: int = 8) -> tuple:
    """Append a delta batch to an existing z-ordered table using the
    TABLE's stored cut points — the nightly-pipeline shape: delta files
    land clustered in the same curve coordinates, so multi-column
    pruning keeps working across base + appends without rewriting the
    table (re-run write_zordered periodically to compact and refresh
    cuts if the value distribution drifts). Returns (cols, bits).

    On a version-pointer root (``path/_current`` exists) the delta lands
    in the CURRENT version directory (in-place parquet append — same
    visibility semantics as any parquet append)."""
    from dexscraper_spark import fsio

    path = fsio.pointer_resolve(df.sparkSession, path)
    cols, bits, cuts = zorder_spec_load(df.sparkSession, path)
    keyed = df.withColumn(
        "__zkey", zorder_key(df, cols, bits=bits, cuts=cuts))
    _write_curve(keyed, path, n_files=n_files, mode="append")
    return cols, bits
