"""KMV distinct-count sketch: exactness below k, estimator accuracy,
exact merge associativity, partition independence, grouped sketches."""

from __future__ import annotations

from pyspark.sql import functions as F

from dexscraper_spark.operators.sketch import kmv_estimate, kmv_merge, kmv_sketch


def test_kmv_exact_below_k(spark):
    df = spark.range(0, 100).select(F.col("id").cast("string").alias("v"))
    [row] = kmv_sketch(df, cols=["v"], k=256).collect()
    assert row.distinct_est == 100.0
    assert len(row.sketch) == 100


def test_kmv_estimate_accuracy(spark):
    n = 20_000
    df = spark.range(0, n * 3).select(
        (F.col("id") % n).cast("string").alias("v"))  # 3 copies each
    [row] = kmv_sketch(df, cols=["v"], k=256).collect()
    # RSE ≈ 1/sqrt(k-2) ≈ 6.3%; deterministic hashes → fixed estimate.
    assert abs(row.distinct_est - n) / n < 0.2
    assert len(row.sketch) == 256


def test_kmv_merge_equals_sketch_of_union(spark):
    a = spark.range(0, 5000).select(F.col("id").cast("string").alias("v"))
    b = spark.range(2500, 9000).select(F.col("id").cast("string").alias("v"))
    k = 128
    [sa] = kmv_sketch(a, cols=["v"], k=k).collect()
    [sb] = kmv_sketch(b, cols=["v"], k=k).collect()
    [su] = kmv_sketch(a.unionAll(b), cols=["v"], k=k).collect()
    merged_df = spark.createDataFrame(
        [(sa.sketch, sb.sketch)], "s1 array<double>, s2 array<double>")
    [m] = merged_df.select(
        kmv_merge(F.col("s1"), F.col("s2"), k=k).alias("m")).collect()
    assert m.m == su.sketch  # merge is EXACTLY the union's sketch
    [est] = merged_df.select(
        kmv_estimate(kmv_merge(F.col("s1"), F.col("s2"), k=k), k=k)
        .alias("e")).collect()
    assert abs(est.e - 9000) / 9000 < 0.25


def test_kmv_partition_independence(spark):
    df = spark.range(0, 8000).select((F.col("id") % 3000).cast("string").alias("v"))
    [s1] = kmv_sketch(df.repartition(2), cols=["v"], k=64).collect()
    [s2] = kmv_sketch(df.repartition(13), cols=["v"], k=64).collect()
    assert s1.sketch == s2.sketch and s1.distinct_est == s2.distinct_est


def test_kmv_grouped(spark):
    df = spark.range(0, 6000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        F.when(F.col("id") % 2 == 0, (F.col("id") % 50))
         .otherwise(F.col("id")).cast("string").alias("v"))
    rows = {r.g: r for r in kmv_sketch(
        df, cols=["v"], group_by=["g"], k=256).collect()}
    assert rows["0"].distinct_est == 25.0        # 50 values, evens only → 25
    assert abs(rows["1"].distinct_est - 3000) / 3000 < 0.2


def test_kmv_merge_null_input_is_empty(spark):
    df = spark.createDataFrame(
        [([0.1, 0.2], None)], "s1 array<double>, s2 array<double>")
    [row] = df.select(kmv_merge(F.col("s1"), F.col("s2"), k=4).alias("m"),
                      kmv_estimate(kmv_merge(F.col("s1"), F.col("s2"), k=4),
                                   k=4).alias("e")).collect()
    assert row.m == [0.1, 0.2] and row.e == 2.0


def test_local_sketch_one_partial_per_group_across_batches():
    """The mapInPandas generator must accumulate across Arrow batches and
    emit ONE partial per group per partition — per-batch emission makes
    shuffle volume scale with row count."""
    import pandas as pd
    from dexscraper_spark.operators.sketch import _local_sketch_fn
    fn = _local_sketch_fn(["g"], k=8)
    batches = [
        pd.DataFrame({"g": ["a", "a", "b"], "__u": [0.3, 0.1, 0.5]}),
        pd.DataFrame({"g": ["a", "b"], "__u": [0.2, 0.4]}),
        pd.DataFrame({"g": ["a"], "__u": [0.1]}),      # dup fraction
    ]
    out = list(fn(iter(batches)))
    assert len(out) == 1                       # one yield per partition
    rows = {d["g"]: d["__partial"] for d in out[0].to_dict("records")}
    assert rows == {"a": [0.1, 0.2, 0.3], "b": [0.4, 0.5]}


def test_dd_histogram_quantiles_within_alpha(spark):
    """The DDSketch guarantee, tested literally: the estimate for
    quantile q is within relative alpha of the element at rank
    ceil(q*n) of the sorted data — per group, over real data."""
    import math

    from pyspark.sql import functions as F

    from dexscraper_spark.operators.sketch import dd_histogram, dd_quantiles

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    alpha, qs = 0.02, [0.05, 0.5, 0.95, 0.99]
    hist = dd_histogram(ev, value_col="value",
                        group_cols=["event_type"], alpha=alpha)
    got = {(r["event_type"], r["q"]): r["value"] for r in
           dd_quantiles(hist, qs, group_cols=["event_type"],
                        alpha=alpha).collect()}
    by_type = {}
    for r in ev.select("event_type", "value").collect():
        by_type.setdefault(r["event_type"], []).append(r["value"])
    for t, vals in by_type.items():
        vals.sort()
        for q in qs:
            true = vals[max(0, math.ceil(q * len(vals)) - 1)]
            est = got[(t, q)]
            assert abs(est - true) <= alpha * abs(true) + 1e-12, \
                (t, q, est, true)


def test_dd_merge_is_exact_and_incremental(spark):
    """merge(hist(A), hist(B)) == hist(A ∪ B) bit-for-bit (integer
    vector addition) — the nightly incremental-percentiles update;
    and quantiles of the merged sketch equal quantiles of the full
    build."""
    from pyspark.sql import functions as F

    from dexscraper_spark.operators.sketch import (
        dd_histogram, dd_merge, dd_quantiles)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    a = ev.filter(F.col("event_id") % 3 == 0)
    b = ev.filter(F.col("event_id") % 3 != 0)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    full = dd_histogram(ev, value_col="value", group_cols=["event_type"])
    merged = dd_merge(
        dd_histogram(a, value_col="value", group_cols=["event_type"]),
        dd_histogram(b, value_col="value", group_cols=["event_type"]),
        group_cols=["event_type"])
    assert rows(merged) == rows(full)
    assert rows(dd_quantiles(merged, [0.5, 0.9],
                             group_cols=["event_type"])) \
        == rows(dd_quantiles(full, [0.5, 0.9],
                             group_cols=["event_type"]))


def test_dd_sketch_signs_and_zero(spark):
    """Negatives mirror positives (relative error on |x|), zeros land
    exactly on 0, and the real-line ordering across signs holds."""
    from dexscraper_spark.operators.sketch import dd_histogram, dd_quantiles

    vals = [-1000.0, -1.0, 0.0, 0.0, 2.0, 500.0, 50000.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    hist = dd_histogram(df, value_col="v", alpha=0.01)
    got = {r["q"]: r["value"] for r in
           dd_quantiles(hist, [0.0, 1 / 7, 3 / 7, 4 / 7, 1.0],
                        alpha=0.01).collect()}
    assert got[0.0] < -990                       # min ~ -1000
    assert abs(got[1 / 7] + 1000) <= 10 + 1e-9   # rank-1 element
    assert got[3 / 7] == 0.0 and got[4 / 7] == 0.0
    assert abs(got[1.0] - 50000) <= 500 + 1e-9


def test_dd_validates_arguments(spark):
    import pytest

    from dexscraper_spark.operators.sketch import dd_histogram, dd_quantiles

    df = spark.createDataFrame([(1.0,)], "v double")
    with pytest.raises(ValueError, match="alpha"):
        dd_histogram(df, value_col="v", alpha=1.5)
    hist = dd_histogram(df, value_col="v")
    with pytest.raises(ValueError, match="quantile"):
        dd_quantiles(hist, [1.5])


# --------------------------- Misra-Gries heavy hitters ----------------------

from dexscraper_spark.operators.sketch import mg_merge, mg_sketch  # noqa: E402


def _zipf_df(spark, n=30_000, n_items=2_000):
    # deterministic zipf-ish skew: item i gets weight ~ 1/(i+1)
    return spark.range(0, n).select(
        F.floor(F.pow(F.lit(float(n_items)),
                      (F.xxhash64("id").cast("double") / F.lit(2.0**64)
                       + F.lit(0.5)))).cast("long").cast("string")
        .alias("v"))


def test_mg_exact_when_distinct_below_k(spark):
    df = spark.range(0, 9000).select(
        (F.col("id") % 40).cast("string").alias("v"))
    rows = {r.item: r.cnt for r in mg_sketch(df, cols=["v"], k=64).collect()}
    assert len(rows) == 40
    assert all(c == 225 for c in rows.values())  # exact regime
    # exact regime is partition-independent
    rows2 = {r.item: r.cnt
             for r in mg_sketch(df.repartition(13), cols=["v"], k=64).collect()}
    assert rows == rows2


def test_mg_guarantee_on_skew(spark):
    k = 32
    df = _zipf_df(spark)
    truth = {r.v: r.c for r in
             df.groupBy("v").agg(F.count("*").alias("c")).collect()}
    n = sum(truth.values())
    got = {r.item: r.cnt for r in
           mg_sketch(df.repartition(8), cols=["v"], k=k).collect()}
    assert 0 < len(got) <= k
    bound = n / (k + 1)
    for item, cnt in got.items():
        # cnt is a lower bound within n/(k+1) of truth
        assert cnt <= truth[item]
        assert truth[item] - cnt <= bound
    # every item with freq > n/(k+1) must be present
    for item, c in truth.items():
        if c > bound:
            assert item in got


def test_mg_grouped(spark):
    df = spark.range(0, 12_000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        (F.col("id") % F.when(F.col("id") % 2 == 0, 10).otherwise(3000))
        .cast("string").alias("v"))
    out = mg_sketch(df, cols=["v"], group_by=["g"], k=16).collect()
    g0 = {r.item: r.cnt for r in out if r.g == "0"}
    # even ids mod 10 hit the 5 even residues, 1200 rows each — exact
    assert len(g0) == 5 and all(c == 1200 for c in g0.values())
    g1 = {r.item: r.cnt for r in out if r.g == "1"}
    assert len(g1) <= 16


def test_mg_merge_rollup(spark):
    """Nightly rollup: merge of two days' summaries satisfies the union
    bound — and in the exact regime equals the union's exact counts."""
    k = 64
    a = spark.range(0, 5000).select((F.col("id") % 30).cast("string").alias("v"))
    b = spark.range(0, 7000).select((F.col("id") % 50).cast("string").alias("v"))
    sa, sb = (mg_sketch(x, cols=["v"], k=k) for x in (a, b))
    merged = {r.item: r.cnt for r in mg_merge(sa, sb, k=k).collect()}
    truth = {r.v: r.c for r in a.unionAll(b).groupBy("v")
             .agg(F.count("*").alias("c")).collect()}
    assert merged == truth  # 50 distinct ≤ k=64 → exact through the merge

    # skewed regime: bound holds through the merge
    k2 = 16
    c, d = _zipf_df(spark, 8000), _zipf_df(spark, 9000, 500)
    m = {r.item: r.cnt for r in mg_merge(
        mg_sketch(c, cols=["v"], k=k2),
        mg_sketch(d, cols=["v"], k=k2), k=k2).collect()}
    truth2 = {r.v: r.c for r in c.unionAll(d).groupBy("v")
              .agg(F.count("*").alias("c")).collect()}
    n2 = sum(truth2.values())
    assert 0 < len(m) <= k2
    for item, cnt in m.items():
        assert cnt <= truth2[item] <= cnt + 2 * n2 / (k2 + 1)
