"""SparkSession factory tuned for this engine.

The defaults are chosen for the local[32] test harness but the knobs are the
ones that matter on a real cluster:

* AQE on — runtime shuffle-partition coalescing, skew-join splitting and
  dynamic broadcast conversion. At 100 TB the static ``shuffle.partitions``
  value is always wrong for *some* stage; AQE fixes it per-stage.
* Arrow on — every pandas UDF / ``applyInPandas`` crossing is Arrow-batched.
* Session timezone pinned to UTC — all window/bucket math is then identical
  across engines (and across executors with different TZs).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "dexscraper_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


_TUNED: set = set()
_TUNE_WARNED: set = set()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created session
    (the driver hands us its own session in ``__spark_entry__``).

    Idempotent and memoized per application: every table loader and query
    builder calls this defensively, so the conf round-trips run once per
    session, not once per query. AQE and skew-join splitting are left to
    the session (on by default since Spark 3.2, and set by get_spark), so
    a caller that turns AQE off keeps it off."""
    app_id = spark.sparkContext.applicationId
    if app_id in _TUNED:
        # Memo hit still re-asserts the UTC pin: external driver code may
        # have changed the session timezone since, and every catalog
        # query's epoch/window math depends on it. One conf set is cheap
        # next to the full-tune round-trips the memo saves.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return spark
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
        # runtime-settable: externally-created sessions otherwise run the
        # 200-partition default, which at local test scale is pure
        # scheduling overhead (AQE coalesces, but the initial fan-out and
        # the non-AQE streaming stages still pay it). Only replace the
        # untouched default — an explicitly configured value (get_spark
        # parameter, cluster tuning) is never clobbered.
        if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
            spark.conf.set("spark.sql.shuffle.partitions",
                           os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except Exception as e:
        # Non-runtime-settable on some builds — defaults are fine, but a
        # genuinely broken conf set on a future runtime must not be
        # swallowed silently: surface it once per session. Do NOT mark
        # the app tuned: a transient failure retries on the next call
        # (the warning stays once-per-session either way).
        if app_id not in _TUNE_WARNED:
            import logging
            logging.getLogger(__name__).warning(
                "tune_session: could not apply engine defaults (%s: %s); "
                "continuing with session defaults", type(e).__name__, e)
            _TUNE_WARNED.add(app_id)
        return spark
    _TUNED.add(app_id)
    return spark
