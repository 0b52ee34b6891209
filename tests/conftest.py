"""Shared fixtures: one SparkSession per test session + the reference's
canonical sample rows (mirrors /root/reference/tests/conftest.py:19-45
values — fixture data only, no code)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from dexscraper_spark.session import get_spark
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


_TALLY = {"passed": 0, "failed": 0, "error": 0, "skipped": 0}
_SLOW_DESELECTED = 0


def pytest_runtest_logreport(report):
    if report.when == "call":
        if report.passed:
            _TALLY["passed"] += 1
        elif report.failed:
            _TALLY["failed"] += 1
        elif report.skipped:
            _TALLY["skipped"] += 1
    elif report.failed:  # setup/teardown crash
        _TALLY["error"] += 1


def pytest_deselected(items):
    global _SLOW_DESELECTED
    _SLOW_DESELECTED += sum(1 for i in items if i.get_closest_marker("slow"))


def pytest_sessionfinish(session, exitstatus):
    """Re-print the tally AFTER everything else at interpreter exit:
    the slow JVM/py4j teardown logs noise past pytest's own summary
    line, so the receipt otherwise requires counting dots (VERDICT r10
    §next-8). atexit runs after the JVM shutdown hooks' output."""
    import atexit

    def _print_tally():
        parts = [f"{v} {k}" for k, v in _TALLY.items() if v]
        if _SLOW_DESELECTED:
            parts.append(f"{_SLOW_DESELECTED} slow deselected "
                         "(run `make test-all`)")
        print(f"\n[spark-graft tally] {', '.join(parts) or 'no tests'} "
              f"(pytest exit {exitstatus})", flush=True)

    atexit.register(_print_tally)


@pytest.fixture()
def sample_token(spark):
    """Canonical sample token (reference tests/conftest.py:19-31)."""
    from dexscraper_spark.schemas import TOKENS
    row = {f.name: None for f in TOKENS.fields}
    row.update(
        symbol="TEST", token_name="Test Token", chain="solana",
        protocol="pumpfun", price=0.000123, volume_24h=1_000_000.5,
        txns_24h=500, makers=25, liquidity=50_000.0, market_cap=5_000_000.0,
        confidence_score=0.85, field_count=8, ts=1756793176,
    )
    return spark.createDataFrame([row], schema=TOKENS)


@pytest.fixture()
def sample_ohlc(spark):
    """Canonical OHLC bar (reference tests/conftest.py:34-45)."""
    from dexscraper_spark.schemas import OHLC
    return spark.createDataFrame(
        [("TEST", 1756793176, 0.000123, 0.000127, 0.000119, 0.000125,
          1_000_000.50, 150)],
        schema=OHLC,
    )


def junk_docs(spark, n=400, offset=10_000_000, salt="w", doc_cols=False):
    """Shared negative-class generator: hex-gibberish 'documents' with
    a vocabulary disjoint from real text (md5 hunks). ``doc_cols`` adds
    the documents-table companion columns (lang/source/n_chars) for
    tests that union with the real table."""
    from pyspark.sql import functions as F

    base = spark.range(n).select(
        (F.col("id") + offset).alias("doc_id"),
        F.concat_ws(" ", *[
            F.substring(F.md5(F.concat(F.col("id").cast("string"),
                                       F.lit(f"{salt}{i}"))), 1, 8)
            for i in range(20)]).alias("text"))
    if not doc_cols:
        return base
    return base.select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("syn").alias("source"), F.lit(160).alias("n_chars"))
