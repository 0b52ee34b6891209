"""Tight per-query A/B timer: run selected registry queries K times in one
warm session, print min/median/max. Complements bench.py for optimization
work where single full-bench runs are too noisy (shared host).

Usage: python tools/qtime.py [-n RUNS] [--noop] query [query ...]

--noop times `df.write.format("noop")` (guide §1.4) instead of toPandas()
so the computation is isolated from result transfer.
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
    noop = "--noop" in args
    if noop:
        args.remove("--noop")
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dexscraper_spark import TABLES
    from dexscraper_spark.plans.registry import queries
    from dexscraper_spark.session import get_spark
    from dexscraper_spark.sources.tables import load_table

    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8"))
    spark = get_spark("qtime", shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:
        load_table(spark, sf_dir, t).cache().count()
    warm = spark.range(1).toDF("msg_id")
    warm.mapInPandas(lambda it: it, schema="msg_id long").count()

    from dexscraper_spark.persist import release_tracked

    qmap = queries()
    for name in names:
        build = qmap[name]
        ts = []
        for _ in range(runs + 1):  # first run warms artifacts; dropped
            t0 = time.time()
            df = build(spark, sf_dir)
            if noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                try:
                    df.toPandas()
                except Exception:
                    df.collect()
            ts.append(time.time() - t0)
        # Between QUERIES (not iterations — warm iterations must keep
        # serving the persist exactly like bench.py's warm min-of-3):
        # release in-query tracked persists (decoded tokens, MinHash
        # signatures) so a multi-query invocation doesn't carry one
        # query's block-manager storage into the next query's timings.
        release_tracked()
        ts = ts[1:]
        print(f"{name:35s} min={min(ts):.3f} med={statistics.median(ts):.3f} "
              f"max={max(ts):.3f} (n={runs}, warm-skipped)")


if __name__ == "__main__":
    main()
