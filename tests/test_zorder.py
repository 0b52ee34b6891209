"""Z-order lake layout: multi-column row-group pruning, content
fidelity, null/timestamp handling, validation."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from dexscraper_spark.sinks.lake import write_zordered, zorder_key


def _grid(spark, n=40_000):
    """Deterministic 2-d uniform points (no RNG: multiplicative hash)."""
    return spark.range(0, n).select(
        F.col("id"),
        (F.pmod(F.col("id") * 2654435761, F.lit(100003)).cast("double")
         / 100003.0).alias("x"),
        (F.pmod(F.col("id") * 40503 + 7, F.lit(99991)).cast("double")
         / 99991.0).alias("y"))


def _overlapping_row_groups(path, lo, hi, col):
    """Count (overlapping, total) parquet row groups whose [min,max]
    intersects [lo, hi] on col — the physical skipping a stats-aware
    reader performs."""
    import pyarrow.parquet as pq
    total = overlap = 0
    for f in glob.glob(f"{path}/*.parquet"):
        pf = pq.ParquetFile(f)
        idx = pf.schema_arrow.names.index(col)
        for rg in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(rg).column(idx).statistics
            total += 1
            if st.min <= hi and st.max >= lo:
                overlap += 1
    return overlap, total


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    df = _grid(spark)
    zpath = str(tmp_path / "z")
    xpath = str(tmp_path / "xsorted")
    write_zordered(df, zpath, cols=["x", "y"], n_files=32)
    # baseline: the best single-column layout (range-sorted by x)
    (df.repartitionByRange(32, "x").sortWithinPartitions("x")
     .write.mode("overwrite").parquet(xpath))

    # selective predicate on the NON-sorted dimension: x-sorted layout
    # cannot prune at all, z-order must skip most row groups
    zy, zt = _overlapping_row_groups(zpath, 0.4, 0.45, "y")
    xy, xt = _overlapping_row_groups(xpath, 0.4, 0.45, "y")
    assert xy == xt                      # baseline reads everything
    assert zy < zt / 2                   # z-order skips > half
    # and x stays prunable too (both dims cluster)
    zx, _ = _overlapping_row_groups(zpath, 0.4, 0.45, "x")
    assert zx < zt / 2
    assert zy < xy                       # strictly better on y


def test_zorder_content_fidelity(spark, tmp_path):
    df = _grid(spark, 5_000)
    path = str(tmp_path / "z2")
    write_zordered(df, path, cols=["x", "y"], n_files=8)
    back = spark.read.parquet(path)
    assert back.columns == df.columns    # key column dropped
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, df.collect()))


def test_zorder_nulls_and_timestamps(spark, tmp_path):
    df = spark.range(0, 1_000).select(
        "id",
        F.when(F.col("id") % 10 == 0, None)
         .otherwise(F.col("id").cast("double")).alias("v"),
        F.timestamp_seconds(F.col("id") * 60).alias("ts"))
    path = str(tmp_path / "z3")
    write_zordered(df, path, cols=["v", "ts"], n_files=4)
    back = spark.read.parquet(path)
    assert back.count() == 1_000
    assert back.filter(F.col("v").isNull()).count() == 100


def test_zorder_key_validation(spark):
    df = _grid(spark, 100)
    with pytest.raises(ValueError, match="2-4 columns"):
        zorder_key(df, ["x"])
    with pytest.raises(ValueError, match="exceeds a long"):
        zorder_key(df, ["x", "y"], bits=32)


def test_zorder_constant_column_degrades_gracefully(spark, tmp_path):
    """A constant column contributes no bits but must not break the
    layout or the write."""
    df = _grid(spark, 2_000).withColumn("c", F.lit(5.0))
    path = str(tmp_path / "z4")
    write_zordered(df, path, cols=["x", "c"], n_files=4)
    assert spark.read.parquet(path).count() == 2_000


def test_zorder_outlier_robust(spark, tmp_path):
    """Equi-depth ranks: one extreme row must not collapse everyone
    else into bucket 0 (the min/max value-scaling failure mode)."""
    df = _grid(spark, 40_000).unionByName(spark.createDataFrame(
        [(999_999, 1e9, 1e9)], "id long, x double, y double"))
    path = str(tmp_path / "zout")
    write_zordered(df, path, cols=["x", "y"], n_files=32)
    zy, zt = _overlapping_row_groups(path, 0.4, 0.45, "y")
    assert zy < zt / 2


def test_zorder_nan_goes_to_bucket_zero(spark, tmp_path):
    df = _grid(spark, 5_000).withColumn(
        "x", F.when(F.col("id") % 100 == 0, F.lit(float("nan")))
        .otherwise(F.col("x")))
    path = str(tmp_path / "znan")
    write_zordered(df, path, cols=["x", "y"], n_files=8)
    back = spark.read.parquet(path)
    assert back.count() == 5_000
    assert back.filter(F.isnan("x")).count() == 50


def test_zorder_rejects_string_column(spark):
    df = _grid(spark, 100).withColumn("s", F.lit("a"))
    with pytest.raises(TypeError, match="not orderable-numeric"):
        zorder_key(df, ["s", "x"])


def test_zorder_four_columns_default_bits(spark, tmp_path):
    """4 columns must work at the default bits (adaptive, not 16x4>63)."""
    df = _grid(spark, 2_000).withColumn("w", (F.col("id") % 7).cast("double")) \
        .withColumn("v", (F.col("id") % 11).cast("double"))
    path = str(tmp_path / "z4c")
    write_zordered(df, path, cols=["x", "y", "w", "v"], n_files=4)
    assert spark.read.parquet(path).count() == 2_000


def test_zorder_append_keeps_pruning(spark, tmp_path):
    """Nightly append with the table's stored cuts: pruning must hold
    across base + delta files, and the read must see all rows."""
    from dexscraper_spark.sinks.lake import append_zordered

    base = _grid(spark, 30_000)
    delta = _grid(spark, 40_000).filter(F.col("id") >= 30_000)
    path = str(tmp_path / "ztab")
    write_zordered(base, path, cols=["x", "y"], n_files=16)
    append_zordered(delta, path, n_files=8)
    back = spark.read.parquet(path)
    assert back.count() == 40_000
    zy, zt = _overlapping_row_groups(path, 0.4, 0.45, "y")
    assert zt >= 24                       # both generations of files
    assert zy < zt / 2                    # pruning survives the append


def test_zorder_spec_roundtrip_and_validation(spark, tmp_path):
    from dexscraper_spark.sinks.lake import (
        zorder_cuts, zorder_spec_load, zorder_spec_save)

    df = _grid(spark, 2_000)
    path = str(tmp_path / "zspec")
    cuts = zorder_cuts(df, ["x", "y"], bits=6)
    zorder_spec_save(spark, path, cols=["x", "y"], bits=6, cuts=cuts)
    cols, bits, cuts2 = zorder_spec_load(spark, path)
    assert cols == ["x", "y"] and bits == 6 and cuts2 == cuts

    # corrupt spec (duplicate column rows) must raise, not mis-cluster
    spark.createDataFrame(
        [(0, "x", 6, [0.5]), (1, "x", 6, [0.5])],
        "pos int, col string, bits int, cuts array<double>") \
        .write.mode("overwrite").parquet(str(tmp_path / "zbad" / "_zorder"))
    with pytest.raises(ValueError, match="corrupt"):
        zorder_spec_load(spark, str(tmp_path / "zbad"))
