"""KMV (k-minimum-values) distinct-count sketch — mergeable cardinality
estimation for corpus-scale rollups (the companion to the MinHash stack in
``operators/dedup.py``: same hash-the-value-once discipline, different
question — "how many distinct" instead of "which near-dups").

Why not ``count_distinct``: exact distinct shuffles every distinct value.
Why not only ``approx_count_distinct``: Spark's HLL gives one number and
cannot be composed further from the stored aggregate by user code. A KMV
sketch is a tiny, *inspectable* array (the k smallest hash fractions) that
merges associatively — union sketches across shards/days by merging
arrays, then estimate — which is what a training-data pipeline stores per
(source, day) partition and rolls up later.

Scale shape (the point of a sketch): ``kmv_sketch`` never shuffles
distinct values. A ``mapInPandas`` pass computes one LOCAL sketch per
(group, partition) — bounded k values each — and a single groupBy merges
them: shuffle volume O(groups × partitions × k), independent of the
number of distinct values. The merged result is EXACTLY the global
k-smallest distinct hash fractions, so the sketch is partitioning-
independent (pinned by test).

Estimator: with u_k the kth smallest of n distinct uniform(0,1) hashes,
E[u_k] ≈ k/(n+1) → n̂ = (k−1)/u_k (the standard unbiased KMV estimator,
RSE ≈ 1/√(k−2)). Sketches holding fewer than k values are exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_TWO64 = float(2 ** 64)


def hash_fraction(*cols: Column | str) -> Column:
    """xxhash64 of the columns mapped to a uniform fraction in [0, 1):
    signed int64 / 2^64 + 0.5 — a uniform bijection (all KMV needs),
    overflow-free. Note it preserves SIGNED hash order, not unsigned."""
    h = F.xxhash64(*[F.col(c) if isinstance(c, str) else c for c in cols])
    return h.cast("double") / F.lit(_TWO64) + F.lit(0.5)


def _local_sketch_fn(gcols: list[str], k: int):
    """Partition-local KMV: accumulate the k smallest distinct fractions
    per group ACROSS Arrow batches and yield ONE partial per group per
    partition — yielding per batch would make shuffle volume scale with
    row count (batches), not partition count."""
    def local_sketches(batches):
        import pandas as pd
        acc: dict[tuple, list] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            for key, s in pdf.groupby(gcols, dropna=False, sort=False)["__u"]:
                key = key if isinstance(key, tuple) else (key,)
                prev = acc.get(key, [])
                acc[key] = sorted(set(prev).union(s.unique()))[:k]
        if acc:
            yield pd.DataFrame(
                [list(key) + [sk] for key, sk in acc.items()],
                columns=gcols + ["__partial"])
    return local_sketches


def kmv_sketch(df: DataFrame, *, cols: list[str],
               group_by: list[str] | None = None, k: int = 256) -> DataFrame:
    """One KMV sketch per group (or one global row when ``group_by`` is
    empty): ``sketch`` = sorted array of the k smallest distinct hash
    fractions of ``cols``, plus ``distinct_est``.
    """
    groups = list(group_by or [])
    frac = hash_fraction(*cols).alias("__u")
    src = df.select(*groups, frac)

    gcols = groups or ["__g"]
    if not groups:
        src = src.withColumn("__g", F.lit(0))

    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in src.schema.fields if f.name in gcols
    ) + ", __partial array<double>"

    partials = src.mapInPandas(_local_sketch_fn(gcols, k), schema=schema)
    # merge = union of partial arrays → distinct → sort → first k.
    # Each group carries ≤ k × (input partitions) doubles through the one
    # shuffle — bounded, value-count independent.
    merged = (
        partials.groupBy(*gcols)
        .agg(F.slice(
            F.array_sort(F.array_distinct(
                F.flatten(F.collect_list("__partial")))),
            1, k).alias("sketch"))
    )
    out = merged.select(
        *groups, "sketch",
        kmv_estimate(F.col("sketch"), k=k).alias("distinct_est"))
    return out


def kmv_merge(*sketch_cols: Column, k: int = 256) -> Column:
    """Merge sketch arrays (associative, commutative): union → distinct →
    sort → first k. Use inside any aggregate/rollup over stored sketches.
    NULL inputs (a shard missing the group after an outer join) merge as
    empty — concat alone would NULL the whole result."""
    safe = [F.coalesce(c, F.array().cast("array<double>"))
            for c in sketch_cols]
    return F.slice(F.array_sort(F.array_distinct(F.concat(*safe))), 1, k)


def kmv_estimate(sketch_col: Column, *, k: int = 256) -> Column:
    """Distinct-count estimate from a sketch array: exact size when the
    sketch holds fewer than k values, else (k−1)/u_k."""
    size = F.size(sketch_col)
    u_k = F.element_at(sketch_col, k)
    return F.when(size < k, size.cast("double")) \
            .otherwise(F.lit(float(k - 1)) / u_k)


# ---------------------------------------------------------------------------
# DD-style quantile sketch — mergeable percentiles for incremental rollups.
#
# The exact percentile path (plans/catalog.py agg_percentiles) sorts; a
# nightly pipeline wants quantiles it can UPDATE: store a per-(group, day)
# histogram, vector-add histograms across days/shards, query quantiles from
# the merged counts. Log-width buckets (bucket = ceil(log_gamma |x|),
# gamma = (1+alpha)/(1-alpha)) give a RELATIVE-error guarantee: any
# quantile estimate is within alpha of the true value (the DDSketch
# construction, public algorithm). Counts are exact integers, so merging
# is exact and associative — sketch(A union B) == merge(sketch(A),
# sketch(B)) bit-for-bit, the same monoid discipline as the OHLC partials.
#
# Scale shape: one narrow projection computes each row's (sign, bucket);
# a partial-aggregated groupBy counts per bucket — shuffle volume is
# O(groups x buckets), buckets ~ log(value range)/log(gamma) (~2.3k for
# alpha=0.01 over 20 decades), independent of row count. Quantile
# queries walk the bucket histogram: a window over ~buckets rows per
# group, never over data.
# ---------------------------------------------------------------------------


def _mg_item_expr(cols: list):
    """The shared null-marked item encoding: bare concat_ws SKIPS NULL
    columns, conflating ("x", NULL) with (NULL, "x") and NULL with ""
    — phantom heavy hitters. \\x00 marks NULL, \\x1f separates. Every
    MG entry point must use this one expression or summaries stop
    being merge-comparable."""
    return F.concat_ws("\x1f", *[
        F.coalesce(F.col(c).cast("string") if isinstance(c, str)
                   else c.cast("string"), F.lit("\x00"))
        for c in cols]).alias("__item")


def _mg_local_fn(gcols: list[str], k: int):
    """Partition-local Misra-Gries: one bounded summary (≤ k counters)
    per group per partition, accumulated ACROSS Arrow batches. The
    classic MG step — when a (k+1)th distinct item arrives, decrement
    every counter and drop zeros — is applied per batch via its
    vectorized equivalent: count the batch exactly (a partition's batch
    is bounded), add into the running counters, then reduce to k by
    subtracting the (k+1)th largest count."""
    def local_mg(batches):
        import pandas as pd
        acc: dict[tuple, dict] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            for key, s in pdf.groupby(gcols, dropna=False,
                                      sort=False)["__item"]:
                key = key if isinstance(key, tuple) else (key,)
                cnt = acc.setdefault(key, {})
                for item, c in s.value_counts().items():
                    cnt[item] = cnt.get(item, 0) + int(c)
                if len(cnt) > k:
                    cut = sorted(cnt.values(), reverse=True)[k]
                    acc[key] = {i: c - cut for i, c in cnt.items()
                                if c > cut}
        rows = [list(key) + [item, c]
                for key, cnt in acc.items() for item, c in cnt.items()]
        if rows:
            yield pd.DataFrame(rows, columns=gcols + ["item", "cnt"])
    return local_mg


def mg_sketch(df: DataFrame, *, cols: list[str],
              group_by: list[str] | None = None,
              k: int = 64) -> DataFrame:
    """Mergeable Misra-Gries heavy-hitters summary — the frequency
    companion to KMV (distinct) and the DD histogram (quantiles):
    (group..., item, cnt) with ≤ k items per group.

    Guarantees (Misra-Gries, preserved under the merge rule of
    Agarwal et al., "Mergeable Summaries", PODS 2012 — public
    algorithm): for every item, ``cnt ≤ true_freq`` and
    ``true_freq − cnt ≤ n/(k+1)`` (n = group row count), so every item
    with frequency > n/(k+1) is guaranteed present. When a group has
    ≤ k distinct items the summary is EXACT counts (and then
    partitioning-independent — pinned by test).

    Scale shape: a ``mapInPandas`` pass emits ≤ k counters per (group,
    partition); ``mg_merge`` reduces them with one partial-agg'd
    groupBy + one window over ≤ k×partitions summary rows per group.
    Shuffle volume is O(groups × partitions × k) — row-count
    independent, the same discipline as ``kmv_sketch``.
    """
    groups = list(group_by or [])
    src = df.select(*groups, _mg_item_expr(cols))
    gcols = groups or ["__g"]
    if not groups:
        src = src.withColumn("__g", F.lit(0))
    schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in src.schema.fields if f.name in gcols
    ) + ", item string, cnt long"
    partials = src.mapInPandas(_mg_local_fn(gcols, k), schema=schema)
    merged = mg_merge(partials, group_by=gcols, k=k)
    return merged.select(*groups, "item", "cnt") if groups else \
        merged.select("item", "cnt")


def mg_merge(*summaries: DataFrame, group_by: list[str] | None = None,
             k: int = 64) -> DataFrame:
    """Merge MG summaries (rows of (group..., item, cnt)) into one ≤ k
    per group: add counts item-wise, then subtract the (k+1)th largest
    combined count from every item and drop the non-positive — the
    mergeable-summaries rule that preserves the n/(k+1) error bound.
    Associative and commutative up to the bound (counts are order-
    dependent but every merge order satisfies the same guarantee);
    nightly rollup = ``mg_merge(stored, mg_partials_of(delta))``."""
    from pyspark.sql import Window

    groups = list(group_by or [])
    u = summaries[0]
    for s in summaries[1:]:
        u = u.unionByName(s)
    gcols = groups or ["__g"]
    if not groups:
        u = u.withColumn("__g", F.lit(0))
    summed = (u.groupBy(*gcols, "item")
              .agg(F.sum("cnt").alias("cnt")))
    w = Window.partitionBy(*gcols).orderBy(F.col("cnt").desc(),
                                           F.col("item"))
    # the (k+1)th largest combined count is the decrement; a window
    # max of that rank's value avoids a self-join (summary rows per
    # group are ≤ k×inputs — window input is summaries, never data)
    ranked = summed.withColumn("__rk", F.row_number().over(w))
    cut = F.max(F.when(F.col("__rk") == k + 1, F.col("cnt"))) \
        .over(Window.partitionBy(*gcols))
    return (ranked
            .withColumn("cnt", F.col("cnt") - F.coalesce(cut, F.lit(0)))
            .filter((F.col("cnt") > 0) & (F.col("__rk") <= k))
            .select(*groups, "item", "cnt"))


def _dd_gamma(alpha: float) -> float:
    if not 0.0 < alpha < 1.0:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    return (1.0 + alpha) / (1.0 - alpha)


def dd_histogram(df: DataFrame, *, value_col: str,
                 group_cols: list[str] | None = None,
                 alpha: float = 0.01) -> DataFrame:
    """Build the mergeable log-bucket histogram:
    (group..., __sign, __bucket, __cnt). Zeros get their own bucket
    (sign 0); negatives mirror positives (sign -1, bucket of |x|).
    NaN/Inf must be scrubbed upstream (functions.validity, the engine's
    F3 gate)."""
    import math

    gamma = _dd_gamma(alpha)
    v = F.col(value_col)
    lg = F.lit(math.log(gamma))
    sign = F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1)) \
        .otherwise(F.lit(0))
    bucket = F.when(v != 0, F.ceil(F.log(F.abs(v)) / lg).cast("long")) \
        .otherwise(F.lit(0))
    gcols = list(group_cols or [])
    return (df.select(*gcols, sign.alias("__sign"),
                      bucket.alias("__bucket"))
            .groupBy(*gcols, "__sign", "__bucket")
            .agg(F.count(F.lit(1)).alias("__cnt")))


def dd_merge(*hists: DataFrame,
             group_cols: list[str] | None = None) -> DataFrame:
    """Merge histograms (same alpha!) by vector addition — exact,
    associative, order-insensitive: the nightly update is
    ``dd_merge(stored, dd_histogram(delta))``."""
    gcols = list(group_cols or [])
    merged = hists[0]
    for h in hists[1:]:
        merged = merged.unionByName(h)
    return (merged.groupBy(*gcols, "__sign", "__bucket")
            .agg(F.sum("__cnt").alias("__cnt")))


def dd_quantiles(hist: DataFrame, qs: list[float], *,
                 group_cols: list[str] | None = None,
                 alpha: float = 0.01) -> DataFrame:
    """Query quantiles from a histogram: (group..., q, value) with each
    value within relative error ``alpha`` of the true quantile (exact
    zero when the quantile lands in the zero bucket). The walk is a
    cumulative sum over the ~log-range buckets of each group — window
    input is bucket-count rows, never data rows."""
    import math

    from pyspark.sql import Window

    gamma = _dd_gamma(alpha)
    gcols = list(group_cols or [])
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile {q} outside [0, 1]")
    # one total order over the real line: negatives by descending
    # magnitude, then zero, then positives by ascending magnitude
    order = (F.col("__sign") * (F.lit(1 << 40) + F.col("__bucket")))
    w = Window.partitionBy(*gcols).orderBy(order)
    tot = Window.partitionBy(*gcols)
    h = (hist.withColumn("__cum", F.sum("__cnt").over(w))
         .withColumn("__tot", F.sum("__cnt").over(tot)))
    est = (F.col("__sign").cast("double")
           * F.lit(2.0 * gamma / (gamma + 1.0))
           * F.pow(F.lit(gamma), F.col("__bucket") - 1))
    qdf = None
    for q in qs:
        rank = F.ceil(F.lit(float(q)) * F.col("__tot"))
        picked = (h.filter(F.col("__cum") >= F.greatest(rank, F.lit(1)))
                  .withColumn("__rn", F.row_number().over(
                      Window.partitionBy(*gcols).orderBy(order)))
                  .filter(F.col("__rn") == 1)
                  .select(*gcols, F.lit(float(q)).alias("q"),
                          est.alias("value")))
        qdf = picked if qdf is None else qdf.unionByName(picked)
    return qdf
