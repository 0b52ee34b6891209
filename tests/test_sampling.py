"""Deterministic sampling: layout independence, exact stratified counts,
hash-order correctness vs a Python reference."""

from __future__ import annotations

from pyspark.sql import functions as F

from dexscraper_spark.operators.sampling import (
    sample_deterministic, stratified_sample_exact)

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "lang", "source")


def _ids(df):
    return sorted(r["doc_id"] for r in df.collect())


def test_sample_deterministic_layout_independent(spark):
    docs = _docs(spark)
    a = _ids(sample_deterministic(docs, 0.3, key_col="doc_id"))
    b = _ids(sample_deterministic(docs.repartition(17), 0.3,
                                  key_col="doc_id"))
    assert a == b and 0 < len(a) < docs.count()
    # rate sanity: binomial(n, .3) within 5 sigma
    n = docs.count()
    assert abs(len(a) - 0.3 * n) < 5 * (n * 0.3 * 0.7) ** 0.5
    # different seeds give different (reproducible) subsets
    c = _ids(sample_deterministic(docs, 0.3, key_col="doc_id", seed=7))
    assert c != a
    # fraction bounds
    assert _ids(sample_deterministic(docs, 1.0, key_col="doc_id")) \
        == _ids(docs)
    assert sample_deterministic(docs, 0.0, key_col="doc_id").count() == 0


def test_sample_deterministic_is_prefix_nested(spark):
    """A smaller fraction's sample is a subset of a larger one (same
    seed): the hash order defines one global priority, so fractions
    nest — the property that makes reproducible scaling-law subsets."""
    docs = _docs(spark)
    small = set(_ids(sample_deterministic(docs, 0.1, key_col="doc_id")))
    big = set(_ids(sample_deterministic(docs, 0.4, key_col="doc_id")))
    assert small <= big


def test_stratified_exact_counts_and_reference_order(spark):
    """Exactly n per stratum (whole stratum when smaller), and the
    chosen rows are precisely the n smallest by the hash order —
    verified against a Python reference over all rows."""
    import pyspark.sql.functions as F2

    docs = _docs(spark)
    n = 7
    out = stratified_sample_exact(
        docs, strata_cols=["lang"], n_per_stratum=n, key_col="doc_id")
    got = {}
    for r in out.collect():
        got.setdefault(r["lang"], set()).add(r["doc_id"])
    hashes = {(r["lang"], r["doc_id"]): r["h"] for r in
              docs.select("lang", "doc_id",
                          F2.xxhash64("doc_id", F2.lit(42))
                          .bitwiseXOR(F2.lit(-(1 << 63))).alias("h"))
              .collect()}
    by_lang = {}
    for (lang, did), hv in hashes.items():
        by_lang.setdefault(lang, []).append((hv, did))
    for lang, pairs in by_lang.items():
        want = {d for _, d in sorted(pairs)[:n]}
        assert got.get(lang, set()) == want


def test_stratified_layout_independent_and_small_strata(spark):
    docs = _docs(spark)
    a = sorted(tuple(r) for r in stratified_sample_exact(
        docs, strata_cols=["lang"], n_per_stratum=5,
        key_col="doc_id").collect())
    b = sorted(tuple(r) for r in stratified_sample_exact(
        docs.repartition(13), strata_cols=["lang"], n_per_stratum=5,
        key_col="doc_id").collect())
    assert a == b
    # n larger than every stratum: the sample IS the table
    big = stratified_sample_exact(
        docs, strata_cols=["lang"], n_per_stratum=10 ** 6,
        key_col="doc_id")
    assert big.count() == docs.count()


def test_stratified_schema_passthrough(spark):
    docs = _docs(spark)
    out = stratified_sample_exact(
        docs, strata_cols=["lang", "source"], n_per_stratum=2,
        key_col="doc_id")
    assert set(out.columns) == {"doc_id", "lang", "source"}
    per = out.groupBy("lang", "source").count().collect()
    assert all(r["count"] <= 2 for r in per)


def test_stratified_null_stratum_is_sampled(spark):
    """Regression (r7 review): a NULL stratum is a legitimate group —
    the candidate join must be null-safe, or NULL-keyed rows silently
    vanish and the retry loop dies on a phantom shortfall."""
    docs = _docs(spark).withColumn(
        "lang", F.when(F.col("doc_id") % 4 == 0, None)
        .otherwise(F.col("lang")))
    n_null = docs.filter(F.col("lang").isNull()).count()
    assert n_null > 3
    out = stratified_sample_exact(
        docs, strata_cols=["lang"], n_per_stratum=3, key_col="doc_id")
    assert out.filter(F.col("lang").isNull()).count() == 3
    # and the picked NULL-stratum rows are the hash-order smallest
    got = {r["doc_id"] for r in
           out.filter(F.col("lang").isNull()).collect()}
    ref = sorted(
        (r["h"], r["doc_id"]) for r in
        docs.filter(F.col("lang").isNull())
        .select("doc_id", F.xxhash64("doc_id", F.lit(42))
                .bitwiseXOR(F.lit(-(1 << 63))).alias("h")).collect())
    assert got == {d for _, d in ref[:3]}


# ---------------------------------------------------------------------------
# Gumbel-top-k weighted sampling


def test_gumbel_topk_exact_vs_driver_reference(spark):
    """Given the same hash-derived noise, the selected set must equal a
    driver-side Gumbel-top-k over the same keys — the distributed
    orderBy+limit adds nothing beyond the trick itself."""
    import math

    from dexscraper_spark.operators.sampling import gumbel_topk_sample

    df = spark.range(0, 500).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).cast("double").alias("logw"))
    got = sorted(r["k"] for r in
                 gumbel_topk_sample(df, weight_col="logw", n=20,
                                    key_col="k", seed=9).collect())
    # reference: same u derivation, hashes read back through Spark
    hs = {r["k"]: r["h"] for r in df.select(
        "k", F.shiftrightunsigned(F.xxhash64(F.col("k"), F.lit(9)), 11)
        .alias("h")).collect()}
    keys = {}
    for r in df.collect():
        u = (hs[r["k"]] + 1.0) / float((1 << 53) + 2)
        keys[r["k"]] = r["logw"] + (-math.log(-math.log(u)))
    want = sorted(sorted(keys, key=lambda k: (-keys[k], k))[:20])
    assert got == want


def test_gumbel_topk_layout_independent_and_sized(spark):
    from dexscraper_spark.operators.sampling import gumbel_topk_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", F.length("text").cast("double").alias("logw"))
    a = _ids(gumbel_topk_sample(docs, weight_col="logw", n=50,
                                key_col="doc_id"))
    b = _ids(gumbel_topk_sample(docs.repartition(13), weight_col="logw",
                                n=50, key_col="doc_id"))
    assert a == b and len(a) == 50
    # NULL weights are excluded, never sampled
    withnull = docs.withColumn(
        "logw", F.when(F.col("doc_id") % 2 == 0, F.col("logw")))
    got = gumbel_topk_sample(withnull, weight_col="logw", n=50,
                             key_col="doc_id").collect()
    assert got and all(r["doc_id"] % 2 == 0 for r in got)


def test_gumbel_topk_weight_dominance(spark):
    """An item with overwhelming log-weight must be selected under
    (almost) every seed — the weights actually steer the sample."""
    from dexscraper_spark.operators.sampling import gumbel_topk_sample

    df = spark.range(0, 100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 7, F.lit(50.0)).otherwise(F.lit(0.0))
        .alias("logw"))
    hits = sum(
        any(r["k"] == 7 for r in
            gumbel_topk_sample(df, weight_col="logw", n=5, key_col="k",
                               seed=s).collect())
        for s in range(20))
    assert hits == 20   # P(miss) ~ exp(-50) per seed
    # and temperature -> inf flattens it: with huge temperature the
    # heavy item wins only ~5/100 of the time across seeds
    hits_flat = sum(
        any(r["k"] == 7 for r in
            gumbel_topk_sample(df, weight_col="logw", n=5, key_col="k",
                               seed=s, temperature=1e9).collect())
        for s in range(20))
    assert hits_flat < 10


def test_gumbel_topk_plan_is_take_ordered(spark):
    from dexscraper_spark.operators.sampling import gumbel_topk_sample

    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), F.lit(0.0).alias("logw"))
    plan = gumbel_topk_sample(df, weight_col="logw", n=10, key_col="k") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_gumbel_topk_validation(spark):
    import pytest

    from dexscraper_spark.operators.sampling import gumbel_topk_sample

    df = spark.range(1).select(F.col("id").alias("k"),
                               F.lit(0.0).alias("logw"))
    with pytest.raises(ValueError, match="n must be"):
        gumbel_topk_sample(df, weight_col="logw", n=0, key_col="k")
    with pytest.raises(ValueError, match="temperature"):
        gumbel_topk_sample(df, weight_col="logw", n=1, key_col="k",
                           temperature=0.0)

