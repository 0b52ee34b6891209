"""Query registry — the driver-facing catalog of implemented operators.

Every operator from SURVEY.md §2 that is implemented registers here with a
(spark, sf_dir) -> DataFrame builder and (when SQL-expressible) a DuckDB
oracle SQL string. ``__spark_entry__.py`` re-exports this registry.

Conventions that keep the cross-engine value-hash stable:
  * every computed column is aliased identically in Spark and SQL;
  * double aggregations use the fixed-point helpers in functions.exact so
    results are order-independent and bit-identical across engines;
  * timestamps are returned as epoch-second BIGINTs (no tz ambiguity);
  * every LIMIT has a total-order ORDER BY (unique tiebreak column).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from dexscraper_spark.persist import get_or_build, refresh


@dataclass
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB, None → rows-only check
    survey_ref: str = ""


_REGISTRY: dict[str, Query] = {}

# Prepared-plan cache: resolved (analyzed) result DataFrames per
# (appId, sf_dir, query), kind "plan" in the persist layer. Building a
# registry query costs 0.1-1.2 s of driver-side work (Column
# construction py4j round-trips + Catalyst analysis) before a single
# task runs — measured 12 s of the 27 s bench total at sf0.1. A
# long-lived engine process resolves each plan once and re-executes it,
# exactly like a warehouse's prepared-statement cache; execution itself
# is NOT cached. Like Spark's own catalog-table cache, the resolution
# snapshot includes the file LISTING: for pure plans, replacing source
# files fails loudly with FILE_NOT_EXIST (never silently stale — pinned
# by tests/test_plans.py), and clear_plan_cache() is the REFRESH TABLE
# analog: it drops every memoized plan, table resolution and artifact
# frame, then releases their storage (persist.refresh). The deliberate
# exceptions are the MATERIALIZING rows (curation_pipeline's curated
# corpus, the bar/token/IVF artifacts): those serve the materialized
# artifact until refreshed, by the same artifact semantics as a
# materialized view — each documents this in its builder. Builders are
# pure functions of (sf_dir → tables), so the cached frame is
# observationally identical to a fresh build.
clear_plan_cache = refresh


def register(name: str, oracle: str | None, survey_ref: str = "",
             cache_plan: bool = True):
    """Register a (spark, sf_dir) -> DataFrame builder under ``name``.

    Invariant for every builder: its result must not depend on row
    order. Fact tables are round-robin repartitioned at load
    (sources.tables), so the order rows arrive in varies with core
    count and file layout: never take ``first()`` without a total
    ordering, and aggregate doubles only through functions.exact.

    ``cache_plan=False`` opts a query out of the prepared-plan cache —
    required for builders that EXECUTE during build (the streaming
    pipeline runs its micro-batches in the builder), where caching the
    returned frame would cache results, not a plan."""
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if not cache_plan:
            _REGISTRY[name] = Query(name=name, build=fn, oracle=oracle,
                                    survey_ref=survey_ref)
            return fn

        def prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
            plan = get_or_build(spark, "plan", (sf_dir, name),
                                lambda: fn(spark, sf_dir))
            # A thin Project(*) wrapper per call: reuses the cached ANALYZED
            # subtree (skipping the 0.1-1.2 s of Column-construction py4j
            # round-trips) but yields a fresh QueryExecution, so every call
            # re-executes — sharing the executed DataFrame would replay
            # AQE-materialized shuffle stages, i.e. cache results.
            return plan.select("*")
        prepared.__name__ = fn.__name__
        prepared.__doc__ = fn.__doc__
        prepared.__wrapped__ = fn
        _REGISTRY[name] = Query(name=name, build=prepared, oracle=oracle,
                                survey_ref=survey_ref)
        return fn  # direct imports keep uncached build-every-call semantics
    return deco


def all_queries() -> dict[str, Query]:
    # Import side-effect modules that register queries.
    from dexscraper_spark.plans import (  # noqa: F401
        catalog, scalars_catalog, sinks_catalog,
    )
    return dict(_REGISTRY)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.build for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle is not None}

