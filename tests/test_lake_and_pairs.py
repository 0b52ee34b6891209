"""Lake-layout writer tests."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F


def _decoded(spark, n_frames=3):
    import pandas as pd
    from dexscraper_spark.sources.binary import make_frame, sample_pairs
    from dexscraper_spark.sources.decode import decode_messages
    pdf = pd.DataFrame({
        "msg_id": range(n_frames),
        "payload": [make_frame(sample_pairs(4, seed=i)) for i in range(n_frames)],
    })
    return decode_messages(spark.createDataFrame(pdf).coalesce(1))


def test_write_tokens_partitioned_by_chain(spark, tmp_path):
    from dexscraper_spark.sinks.lake import write_tokens
    tokens = _decoded(spark).withColumn("confidence_score", F.lit(0.9))
    path = str(tmp_path / "tokens_lake")
    write_tokens(tokens, path)
    dirs = {p.split("/")[-1] for p in glob.glob(path + "/chain=*")}
    assert dirs == {"chain=solana", "chain=base"}
    back = spark.read.parquet(path)
    assert back.count() == tokens.count()
    # partition pruning: a chain filter reads only that directory
    plan = back.filter(F.col("chain") == "solana")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "solana" in plan


def test_write_ohlc_partitioned_by_bucket_date(spark, tmp_path):
    from dexscraper_spark.operators.ohlc import ohlc_windowed
    from dexscraper_spark.sinks.lake import write_ohlc
    from dexscraper_spark.sources.tables import load_events
    ev = load_events(spark, "/root/testdata/sf0.001")
    bars = ohlc_windowed(ev, symbol_col="event_type", ts_col="ts",
                         price_col="value", qty_col="value",
                         order_col="event_id", duration="1 hour")
    path = str(tmp_path / "ohlc_lake")
    write_ohlc(bars.withColumn("bucket_ts", F.col("bucket_ts").cast("long")),
               path, n_symbol_buckets=8)
    assert glob.glob(path + "/symbol_bucket=*/bar_date=*")
    back = spark.read.parquet(path)
    assert back.count() == bars.count()


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """write_bucketed pre-clusters both sides on the join key: the join
    plan must contain no shuffle exchange (the 100 TB repeated-join
    pattern: orders ⋈ lineitem on orderkey)."""
    from dexscraper_spark.sinks.lake import write_bucketed
    # warehouse.dir is a static conf → tables land in ./spark-warehouse
    # (gitignored); dropped at the end.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    write_bucketed(orders, "orders_b", key="o_orderkey", n_buckets=8)
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b", key="o_orderkey", n_buckets=8)
    joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:1500]
    assert joined.count() == lineitem.count()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_write_tokens_salt_spreads_hot_chain(spark, tmp_path):
    """ADVICE r4: the repartition salt must come from a high-cardinality
    column (token_address), not confidence_score (~6 discrete values) —
    a hot chain should spread across multiple files, not one task/file."""
    import glob as _glob
    from dexscraper_spark.sinks.lake import write_tokens
    rows = [("solana", f"ADDR{i:04d}", 0.95) for i in range(512)]
    tokens = spark.createDataFrame(
        rows, "chain string, token_address string, confidence_score double")
    path = str(tmp_path / "hot_chain_lake")
    write_tokens(tokens, path, files_per_chain=8)
    files = _glob.glob(path + "/chain=solana/*.parquet")
    # explicit-count repartition on the raw address hash: every one of the
    # 8 write tasks holds a sample of the hot chain, so the chain writes
    # exactly files_per_chain files (AQE cannot coalesce a numbered
    # repartition; a low-cardinality salt could not reach all buckets)
    assert len(files) == 8, files


# ---------------------------------------------------------------------------
# SemDeDup-style semantic dedup (k-means blocks + within-cluster cosine)


def _cluster_assignment(spark, emb, nlist, seed):
    from dexscraper_spark.operators.similarity import (
        ivf_build_deterministic)

    idx = ivf_build_deterministic(emb, nlist=nlist, seed=seed,
                                  cache=False)
    rows = {r["vec_id"]: r["__list"] for r in idx.assigned.collect()}
    return rows


def test_semantic_dedup_no_surviving_near_pair(spark):
    """No two survivors in the SAME cluster may exceed the threshold —
    verified by brute force over the survivors, with the clusters
    recomputed independently (same seed => same KMeans fit)."""
    import numpy as np

    from dexscraper_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding")
    out = semantic_dedup(emb, nlist=8, threshold=0.4, seed=5)
    survivors = out.collect()
    assert 0 < len(survivors) < emb.count()   # something was dropped
    clusters = _cluster_assignment(spark, emb, 8, 5)
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in survivors}

    def cos(a, b):
        na, nb = np.linalg.norm(a), np.linalg.norm(b)
        if na == 0 or nb == 0:
            return 0.0
        # mirror the operator's round_to=6 half-up rounding
        import math
        return math.floor((a @ b) / (na * nb) * 1e6 + 0.5) / 1e6

    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if clusters[a] == clusters[b]:
                assert cos(vecs[a], vecs[b]) <= 0.4, (a, b)


def test_semantic_dedup_dropped_connect_to_survivor(spark):
    """Every dropped vector must be connected to its cluster's surviving
    min-id through above-threshold pairs (it is REPRESENTED, not lost),
    and survivors must be exactly the min ids of the pair-graph
    components plus all untouched vectors."""
    from dexscraper_spark.operators.dedup import (dedup_components,
                                                  semantic_dedup)
    from dexscraper_spark.operators.similarity import (
        exact_cosine_pairs_blocked, ivf_build_deterministic)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding")
    kept = {r["vec_id"] for r in
            semantic_dedup(emb, nlist=8, threshold=0.4, seed=5).collect()}

    idx = ivf_build_deterministic(emb, nlist=8, seed=5,
                                  cache=False)
    try:
        pairs = exact_cosine_pairs_blocked(
            idx.assigned.selectExpr("vec_id", "embedding",
                                    "__list as blk"),
            block_col="blk", threshold=0.4)
        comp = {r["node"]: r["component"] for r in
                dedup_components(pairs).collect()}
    finally:
        idx.unpersist()
    all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    want = {i for i in all_ids if comp.get(i, i) == i}
    assert kept == want


def test_semantic_dedup_layout_independent(spark):
    from pyspark.sql import functions as F

    from dexscraper_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding").filter(F.col("vec_id") < 400)
    a = sorted(r["vec_id"] for r in
               semantic_dedup(emb, nlist=4, threshold=0.4).collect())
    b = sorted(r["vec_id"] for r in
               semantic_dedup(emb.repartition(9), nlist=4,
                              threshold=0.4).collect())
    assert a == b


def test_semantic_dedup_assign_n2_catches_boundary_pair(spark):
    """The paper-shape recall caveat, and its fix (VERDICT r8 §next-3):
    a near-dup pair straddling a k-means boundary is never a candidate
    at assign_n=1 (each endpoint's single list differs) but IS caught
    at assign_n=2 (multi-assignment makes them share a second list).
    Crafted geometry: four tight blobs at ±e1/±e3; the pair sits
    between the ±e1 blobs (cos ≈ 0.956) with a small +e3 lean so both
    endpoints' SECOND-nearest centroid is deterministically the e3
    blob."""
    import numpy as np

    from dexscraper_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(17)
    dim = 8
    anchors = np.zeros((4, dim))
    anchors[0, 0], anchors[1, 0] = 1.0, -1.0
    anchors[2, 2], anchors[3, 2] = 1.0, -1.0
    blob = np.repeat(anchors, 60, axis=0) \
        + 0.03 * rng.normal(size=(240, dim))
    u = np.zeros(dim); u[1], u[2], u[0] = 1.0, 0.1, -0.15
    v = np.zeros(dim); v[1], v[2], v[0] = 1.0, 0.1, 0.15
    rows = [(i, [float(x) for x in w]) for i, w in enumerate(blob)]
    rows += [(1000, [float(x) for x in u]), (1001, [float(x) for x in v])]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<float>")

    kw = dict(nlist=4, threshold=0.9, seed=5)
    kept1 = {r["vec_id"] for r in
             semantic_dedup(emb, assign_n=1, **kw).collect()}
    kept2 = {r["vec_id"] for r in
             semantic_dedup(emb, assign_n=2, **kw).collect()}
    # assign_n=1 misses the boundary pair: both endpoints survive
    assert {1000, 1001} <= kept1
    # assign_n=2 catches it: min-id survives, the other is dropped
    assert 1000 in kept2 and 1001 not in kept2
    # and multi-assignment only ADDS candidates — everything assign_n=2
    # keeps, assign_n=1 kept too (blob collapses identical either way)
    assert kept2 <= kept1
    assert kept1 - kept2 == {1001}


def test_semantic_dedup_assign_n2_layout_independent(spark):
    from pyspark.sql import functions as F

    from dexscraper_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding").filter(F.col("vec_id") < 400)
    a = sorted(r["vec_id"] for r in
               semantic_dedup(emb, nlist=4, threshold=0.4,
                              assign_n=2).collect())
    b = sorted(r["vec_id"] for r in
               semantic_dedup(emb.repartition(9), nlist=4, threshold=0.4,
                              assign_n=2).collect())
    assert a == b
    # still a valid dedup (monotone vs single-assign: can only drop more)
    c = sorted(r["vec_id"] for r in
               semantic_dedup(emb, nlist=4, threshold=0.4).collect())
    assert set(a) <= set(c)


def test_ivf_build_deterministic_layout_independent_and_queryable(spark):
    """Identical centroids AND assignments on any partitioning (the
    MLlib build is layout-dependent — k-means|| seeds per partition),
    and the index answers ivf_query with valid ranked rows."""
    from pyspark.sql import functions as F

    from dexscraper_spark.operators.similarity import (
        ivf_build_deterministic, ivf_query)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding")
    a = ivf_build_deterministic(emb, nlist=8, seed=11, cache=False)
    b = ivf_build_deterministic(emb.repartition(13), nlist=8, seed=11,
                                cache=False)
    ca = [tuple(r) for r in a.centroids.orderBy("list_id").collect()]
    cb = [tuple(r) for r in b.centroids.orderBy("list_id").collect()]
    assert ca == cb
    aa = {r["vec_id"]: r["__list"] for r in a.assigned.collect()}
    ab = {r["vec_id"]: r["__list"] for r in b.assigned.collect()}
    assert aa == ab
    assert len(set(aa.values())) > 1   # actually clustered, not one list
    queries = emb.orderBy("vec_id").limit(3)
    got = ivf_query(a, queries, k=5, nprobe=8).collect()
    assert got and all(1 <= r["rank"] <= 5 for r in got)
    assert {r["query_id"] for r in got} == {0, 1, 2}

def test_semantic_dedup_hot_cluster_cap_exact_on_degenerate(spark):
    """VERDICT r9 §next-4: a 90%-one-cluster corpus (all-identical
    boilerplate — the crawl pathological case) makes the within-cluster
    kernel quadratic. max_cluster bounds it (hash-split → pair →
    contract → re-split), and on the duplicate-dense corpus the capped
    survivors must match the uncapped kernel EXACTLY — contraction
    preserves connectivity because every loser is wired to its
    sub-block winner by an accumulated pair."""
    import numpy as np

    from dexscraper_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(31)
    dim = 8
    hot = np.zeros(dim); hot[0] = 1.0
    # 900 near-identical boilerplate vectors (pairwise cos ~ 1)
    rows = [(i, [float(x) for x in hot + 1e-4 * rng.normal(size=dim)])
            for i in range(900)]
    # 100 diverse vectors in an orthogonal subspace (few/no dups)
    for i in range(900, 1000):
        v = rng.normal(size=dim); v[0] = 0.0
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<float>")

    kw = dict(nlist=4, threshold=0.95, seed=7)
    uncapped = {r["vec_id"] for r in semantic_dedup(emb, **kw).collect()}
    capped = {r["vec_id"] for r in
              semantic_dedup(emb, max_cluster=64, **kw).collect()}
    assert capped == uncapped
    # the boilerplate mass really collapsed to its min id
    assert 0 in capped and len([i for i in capped if i < 900]) == 1
    # cap composes with the assign_n recall knob
    capped2 = {r["vec_id"] for r in
               semantic_dedup(emb, max_cluster=64, assign_n=2,
                              **kw).collect()}
    assert capped2 <= capped and 0 in capped2

    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_cluster"):
        semantic_dedup(emb, max_cluster=1, **kw)
