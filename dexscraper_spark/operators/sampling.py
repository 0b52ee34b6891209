"""Deterministic sampling — reproducible subsets for eval sets,
curriculum slices, and data ablations.

Spark's ``df.sample`` is seed-stable only for a FIXED partitioning: a
repartition, AQE re-plan, or cluster resize changes which rows land in
the sample. Everything here orders rows by ``xxhash64(key, seed)`` — a
uniform pseudo-random total order that depends only on the DATA — so
the same call returns the same rows on one core or a thousand
executors (pinned by test).

``stratified_sample_exact`` returns exactly ``n`` rows per stratum
without the naive plan's failure mode: ranking every row of a stratum
under one window funnels hot strata through a single reducer. Instead,
a hash THRESHOLD prefilter (sized from per-stratum counts with a
Chernoff margin) shrinks each stratum to ~n candidates first, and only
the candidate set — a few·n rows per stratum — is ranked exactly. A
shortfall (astronomically unlikely at the default margin) is detected
by count and retried with a doubled margin, so the result is always
exact, never approximately-n.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def _rank_hash(key_col: str, seed: int):
    # shift into unsigned order: xxhash64 is signed; adding 2^63 via
    # double would lose precision, so compare on the signed value with
    # the sign bit flipped (bitwise XOR keeps it exact int64 arithmetic)
    return F.xxhash64(F.col(key_col), F.lit(seed)) \
        .bitwiseXOR(F.lit(-(1 << 63)))


def sample_deterministic(df: DataFrame, fraction: float, *,
                         key_col: str, seed: int = 42) -> DataFrame:
    """Partitioning-independent Bernoulli(fraction) sample: keep rows
    whose normalized hash falls below the fraction. Same rows on every
    layout; complementary seeds give disjoint reproducible splits."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction {fraction} outside [0, 1]")
    if fraction >= 1.0:
        return df  # bound would overflow int64; the sample is everything
    bound = int(fraction * float(1 << 64)) - (1 << 63)
    return df.filter(_rank_hash(key_col, seed) < F.lit(bound))


def stratified_sample_exact(df: DataFrame, *, strata_cols: list[str],
                            n_per_stratum: int, key_col: str,
                            seed: int = 42,
                            max_rounds: int = 8) -> DataFrame:
    """Exactly ``n_per_stratum`` rows per stratum (all rows of a
    stratum smaller than n), chosen by the hash order — deterministic
    on any cluster layout.

    Plan shape: (1) per-stratum counts (partial-agg, broadcast back);
    (2) hash-threshold prefilter keeping an expected ``n + 6√n + 10``
    rows per stratum (Chernoff: shortfall probability ~1e-9 per
    stratum); (3) exact rank over the CANDIDATES only — the window's
    per-stratum input is a few·n rows, so a billion-row hot stratum
    costs one scan plus an n-sized sort, never a data-sized
    single-reducer sort. Strata that still come up short (detected by
    exact count, never assumed) retry with a doubled margin; strata
    with count ≤ n skip the filter entirely and return whole.
    """
    from dexscraper_spark.persist import tracked_persist

    if n_per_stratum <= 0:
        raise ValueError("n_per_stratum must be positive")
    n = n_per_stratum
    # strata columns RENAMED in the aggregate: counts derives from df,
    # so joining back on the original names is an ambiguous self-join
    counts = tracked_persist(
        df.groupBy(*strata_cols).agg(F.count(F.lit(1)).alias("__cnt"))
        .select(*[F.col(c).alias(f"__s_{c}") for c in strata_cols],
                "__cnt"))

    def null_safe_on(left_names, right_names):
        # eqNullSafe, not ==: a NULL stratum is a legitimate group
        # (groupBy counts it); a plain equi-join would silently drop
        # its rows and trap the retry loop in a permanent phantom
        # shortfall
        cond = None
        for a, b in zip(left_names, right_names):
            e = F.col(a).eqNullSafe(F.col(b))
            cond = e if cond is None else cond & e
        return cond

    s_cols = [f"__s_{c}" for c in strata_cols]

    h = _rank_hash(key_col, seed)
    # key_col tiebreak: hash collisions must not make the rank (and so
    # the picked set) layout-dependent
    w = Window.partitionBy(*strata_cols).orderBy("__h", key_col)

    margin = n + 6 * (n ** 0.5) + 10
    for _ in range(max_rounds):
        frac = F.least(F.lit(1.0), F.lit(float(margin)) / F.col("__cnt"))
        # 2^63 exceeds int64: the offset back to signed-hash space must
        # be a decimal literal, not F.lit
        two63 = F.expr("cast('9223372036854775808' as decimal(38,0))")
        bound = (frac * F.lit(float(1 << 64))).cast("decimal(38,0)") \
            - two63
        cand = (df.join(broadcast(counts),
                        null_safe_on(strata_cols, s_cols))
                .drop(*s_cols)
                .withColumn("__h", h)
                .filter((F.col("__cnt") <= n)
                        | (F.col("__h").cast("decimal(38,0)") < bound)))
        # pinned: the exactness check below and the caller's consume
        # must not re-run the candidate scan + rank
        picked = tracked_persist(
            cand.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n)
            .drop("__h", "__rn", "__cnt"))
        # exactness check: every stratum must yield min(cnt, n) rows
        got = (picked.groupBy(*strata_cols)
               .agg(F.count(F.lit(1)).alias("__got"))
               .select(*[F.col(c).alias(f"__g_{c}")
                         for c in strata_cols], "__got"))
        short = (counts.join(got,
                             null_safe_on(s_cols,
                                          [f"__g_{c}"
                                           for c in strata_cols]),
                             "left")
                 .filter(F.coalesce(F.col("__got"), F.lit(0))
                         < F.least(F.col("__cnt"), F.lit(n)))
                 .limit(1).count())
        if short == 0:
            return picked
        picked.unpersist()  # failed round: don't stack storage
        margin *= 2
    raise RuntimeError(
        f"stratified_sample_exact: shortfall after {max_rounds} "
        "doublings — statistically impossible unless key_col collides "
        "heavily; use a higher-cardinality key")


def gumbel_topk_sample(df: DataFrame, *, weight_col: str, n: int,
                       key_col: str, seed: int = 42,
                       temperature: float = 1.0) -> DataFrame:
    """Weighted sampling WITHOUT replacement of ``n`` rows via the
    Gumbel-top-k trick (Kool et al., ICML 2019 — public): rank by
    ``logw/temperature + Gumbel noise`` and take the top n; the result
    is distributed exactly as sequential sampling proportional to
    ``softmax(logw/temperature)`` without replacement.

    ``weight_col`` is a LOG weight (any real; NULL rows are excluded —
    no weight means no chance, and NULL would otherwise sort
    unpredictably). Noise is derived from ``xxhash64(key_col, seed)``,
    so the sample is deterministic and partitioning-independent, same
    contract as :func:`sample_deterministic`. The plan is
    TakeOrderedAndProject (orderBy + limit) — per-partition heaps of n,
    no global sort, no single-reducer ranking window.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    # uniform in (0,1) strictly: 53 mantissa-exact bits from the hash,
    # +1 / +2 keeps both endpoints out so log(-log(u)) never hits ±inf
    h53 = F.shiftrightunsigned(
        F.xxhash64(F.col(key_col), F.lit(seed)), 11)
    u = (h53.cast("double") + F.lit(1.0)) / F.lit(float((1 << 53) + 2))
    gumbel = -F.log(-F.log(u))
    key = F.col(weight_col).cast("double") / F.lit(float(temperature)) \
        + gumbel
    return (df.filter(F.col(weight_col).isNotNull())
            .orderBy(key.desc(), F.col(key_col).asc())
            .limit(n))

