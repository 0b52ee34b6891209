"""Per-query cost split: planning+codegen vs execution+fetch.

For each named registry query, measures in one warm session:
  build   — registry build call (plan-cache hit: py4j wrapper only)
  first   — first toPandas() on a fresh QueryExecution (pays Catalyst
            optimization + physical planning + codegen + execution)
  rerun   — repeat toPandas() on the SAME DataFrame object. CAVEAT:
            shuffle map outputs registered by the first run are REUSED
            (upstream stages skip), so rerun times only the post-last-
            shuffle tail + result fetch — a floor on result transfer,
            NOT execution. (Measured here: Catalyst analysis+
            optimization+planning phases are ~0.05-0.1 s/query via
            QueryExecution.tracker; the rows are execution-bound.)
first-rerun ≈ the pre-final-shuffle execution cost; rerun ≈ final
stage + Arrow fetch floor (useful for "is this row result-transfer
bound?" — guide §1.4).

Usage: python tools/qsplit.py [-n RUNS] query [query ...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    runs = 5
    if "-n" in args:
        i = args.index("-n")
        runs = int(args[i + 1])
        del args[i:i + 2]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dexscraper_spark import TABLES
    from dexscraper_spark.persist import release_tracked
    from dexscraper_spark.plans.registry import queries
    from dexscraper_spark.session import get_spark
    from dexscraper_spark.sources.tables import load_table

    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8"))
    spark = get_spark("qsplit", shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:
        load_table(spark, sf_dir, t).cache().count()
    spark.range(1).toDF("x").mapInPandas(lambda it: it, "x long").count()

    qmap = queries()
    for name in names:
        build = qmap[name]
        build(spark, sf_dir).toPandas()   # warm artifacts; untimed
        bts, fts, rts = [], [], []
        for _ in range(runs):
            t0 = time.time()
            df = build(spark, sf_dir)
            t1 = time.time()
            df.toPandas()
            t2 = time.time()
            df.toPandas()
            t3 = time.time()
            bts.append(t1 - t0)
            fts.append(t2 - t1)
            rts.append(t3 - t2)
        release_tracked()
        med = statistics.median
        print(f"{name:32s} build={med(bts):.3f} first={med(fts):.3f} "
              f"rerun={med(rts):.3f}  plan~={med(fts)-med(rts):.3f}")


if __name__ == "__main__":
    main()
