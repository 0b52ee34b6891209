"""Scale-stress harness — measure how query runtime scales with data volume.

The driver's bench runs at sf0.1 (~600k lineitem rows). This tool answers
the question the bench can't: *what is the scaling exponent?* It inflates
sf0.1 by an integer factor K into /tmp/dexstress/x{K}/ with
referentially-consistent key shifts, runs any subset of the registry
queries against both the base and the inflated copy, and prints one JSON
line with per-query times and ratios. A near-linear ratio (~K on a fixed
core count) is the signature of a plan that survives a cluster scale-up;
a super-linear one is a plan with an all-pairs or single-partition stage
hiding in it.

Inflation rules (copy c in 0..K-1, c=0 is the identity copy):
  * dims (region, nation) — copied once, unchanged; joins to them stay
    broadcastable exactly as they would at 100 TB.
  * fact keys shift by c * 10^12: customer.c_custkey, orders.o_orderkey/
    o_custkey, lineitem.l_orderkey/l_partkey/l_suppkey, part.p_partkey,
    supplier.s_suppkey, events.event_id/user_id, documents.doc_id,
    embeddings.vec_id — referential integrity is preserved within each
    copy, so every join has K× volume on both sides but identical
    per-key fan-out (no artificial skew).
  * events.ts is NOT shifted: time-bucketed aggregations (OHLC) get K×
    rows per bucket with an unchanged bucket count — the worst case for
    a time-windowed agg, which is the honest one to measure.
  * documents.text gets a per-copy suffix on EVERY word (``w`` → ``w§c``):
    within-copy shingle structure is identical to the base corpus, but
    cross-copy word-n-gram overlap is exactly zero, so the near-dup answer
    scales K× (per-copy pairs), not K²× (every doc paired with its K-1
    rotated twins — a word *rotation* preserves almost all contiguous
    3-grams and silently inflates the answer quadratically; measured
    before choosing this scrambler). We are measuring the engine, not
    inflating the answer.
  * embeddings.embedding is element-rotated per copy: norms preserved,
    directions distinct, so ANN corpus grows K× without degenerate
    duplicate vectors.

Usage:
  python tools/stress.py inflate K           # build /tmp/dexstress/x{K}
  python tools/stress.py run K [q1 q2 ...]   # time queries at base + xK
  python tools/stress.py all K [q1 ...]      # inflate then run
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_ROOT = os.environ.get("SPARK_GRAFT_STRESS_DIR", "/tmp/dexstress")
SHIFT = 10 ** 12  # key offset per copy; far above any base key

# table -> columns to shift per copy (referential integrity preserved)
KEY_SHIFTS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation"]

# Queries whose inputs are synthetic/self-contained (not sf_dir tables at
# meaningful volume) — excluded from the default stress set.
SELF_CONTAINED = {
    "decode_binary_pipeline", "datasource_pushdown_scan",
    "multimodal_pipeline", "tokens_pipeline_e2e", "scan_metadata_patterns",
    "scalar_misc_suite",
    # materializes its artifact on first build per (appId, sf_dir): a
    # steady-state ratio would measure cached-corpus reads, not scaling —
    # its scale story is the per-stage x10 rows (simhash, components)
    "curation_pipeline",
}


def spark_session():
    from dexscraper_spark.session import get_spark
    spark = get_spark("stress")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def inflate(spark, k: int) -> str:
    out = f"{OUT_ROOT}/x{k}"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    from dexscraper_spark.sources.tables import load_table
    for t in DIMS:
        load_table(spark, BASE_SF, t).write.mode("overwrite") \
            .parquet(f"{out}/{t}.parquet")
    copies = spark.range(k).toDF("__copy")
    for t, keys in KEY_SHIFTS.items():
        df = load_table(spark, BASE_SF, t)
        # cross join with the K-row copies frame (broadcast — K rows),
        # then shift keys by copy * SHIFT. Volume: K * |t|, written with
        # the base file's partitioning × K.
        inflated = df.crossJoin(F.broadcast(copies))
        for c in keys:
            inflated = inflated.withColumn(
                c, (F.col(c) + F.col("__copy") * F.lit(SHIFT)).cast("long"))
        if t == "documents":
            # suffix every word with the copy id: within-copy n-gram
            # structure identical, cross-copy overlap exactly zero
            inflated = inflated.withColumn(
                "text",
                F.when(F.col("__copy") == 0, F.col("text")).otherwise(
                    F.expr("array_join(transform(split(text, ' '), "
                           "w -> concat(w, '§', cast(__copy as string))), ' ')")))
        if t == "embeddings":
            # element-rotate the vector per copy: norm-preserving,
            # direction-distinct
            inflated = inflated.withColumn(
                "__r", (F.col("__copy") % F.size("embedding")).cast("int"))
            inflated = inflated.withColumn(
                "embedding",
                F.when(F.col("__copy") == 0, F.col("embedding")).otherwise(
                    F.concat(
                        F.expr("slice(embedding, __r + 1, size(embedding) - __r)"),
                        F.expr("slice(embedding, 1, __r)")))).drop("__r")
        if t == "events":
            # write ts as micros timestamp; load_events casts identically
            inflated = inflated.withColumn("ts", F.col("ts").cast("timestamp"))
        inflated.drop("__copy").write.mode("overwrite") \
            .parquet(f"{out}/{t}.parquet")
    return out


def run(spark, k: int, names: list[str]) -> dict:
    from dexscraper_spark.plans.registry import queries
    qs = queries()
    if not names:
        names = [n for n in qs if n not in SELF_CONTAINED]
    out_dir = f"{OUT_ROOT}/x{k}"
    if not os.path.isdir(out_dir):
        raise SystemExit(f"run `inflate {k}` first ({out_dir} missing)")

    def time_all(sf_dir):
        times = {}
        for n in names:
            t0 = time.time()
            # noop sink: executes the FULL physical plan distributed but
            # never serializes rows to the driver — full-table queries
            # would otherwise measure collect() throughput (linear in the
            # answer), not the plan under test.
            qs[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
            times[n] = round(time.time() - t0, 3)
        return times

    # warm both datasets through the page cache and the JVM once
    base = time_all(BASE_SF)
    big = time_all(out_dir)
    base = time_all(BASE_SF)   # steady-state numbers, post-warmup
    big = time_all(out_dir)
    report = {
        "k": k,
        "base_sf_dir": BASE_SF,
        "queries": {
            n: {"base_sec": base[n], "xk_sec": big[n],
                "ratio": round(big[n] / base[n], 2) if base[n] > 0 else None}
            for n in names
        },
        "base_total_sec": round(sum(base.values()), 2),
        "xk_total_sec": round(sum(big.values()), 2),
    }
    return report


def main():
    if len(sys.argv) < 3 or sys.argv[1] not in ("inflate", "run", "all"):
        print(__doc__)
        raise SystemExit(2)
    cmd, k = sys.argv[1], int(sys.argv[2])
    names = sys.argv[3:]
    spark = spark_session()
    if cmd in ("inflate", "all"):
        out = inflate(spark, k)
        print(f"# inflated {BASE_SF} x{k} -> {out}", file=sys.stderr)
    if cmd in ("run", "all"):
        print(json.dumps(run(spark, k, names)))


if __name__ == "__main__":
    main()
