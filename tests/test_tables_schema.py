"""Runtime-drift guard: pin every table's loader-visible schema.

Round 3 lesson: PySpark 4 changed how TIMESTAMP(NANOS) parquet reads
resolve (``timestamp_ntz`` instead of the ``nanosAsLong`` bigint path),
which silently broke 21 driver queries through one loader line. This test
loads every table at sf0.001 through the same ``load_table`` path the
queries use and asserts the exact dtypes, so the next runtime bump fails
here — in one obvious place — instead of across the query catalog.
"""

from __future__ import annotations

import pytest

from dexscraper_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _skip_single_core(spark):
    """The widening tests compare partition counts against the session
    parallelism; a 1-core session has nothing to widen to."""
    if spark.sparkContext.defaultParallelism == 1:
        pytest.skip("widening needs a session parallelism above 1")

# The loader contract under the current runtime (PySpark 4.x). The
# driver-facing invariants that matter most: events.ts is a session-tz
# TimestampType (NOT timestamp_ntz — downstream unix_micros/window calls
# require it) and ts_ns is the bigint total-order tiebreak.
EXPECTED = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [("n_nationkey", "int"), ("n_name", "string"),
               ("n_regionkey", "int")],
    "customer": [("c_custkey", "bigint"), ("c_name", "string"),
                 ("c_nationkey", "int"), ("c_acctbal", "double"),
                 ("c_mktsegment", "string")],
    "supplier": [("s_suppkey", "bigint"), ("s_name", "string"),
                 ("s_nationkey", "int"), ("s_acctbal", "double")],
    "part": [("p_partkey", "bigint"), ("p_name", "string"),
             ("p_brand", "string"), ("p_type", "string"),
             ("p_size", "int"), ("p_retailprice", "double")],
    "orders": [("o_orderkey", "bigint"), ("o_custkey", "bigint"),
               ("o_orderstatus", "string"), ("o_totalprice", "double"),
               ("o_orderdate", "timestamp_ntz"),
               ("o_orderpriority", "string")],
    "lineitem": [("l_orderkey", "bigint"), ("l_partkey", "bigint"),
                 ("l_suppkey", "bigint"), ("l_linenumber", "int"),
                 ("l_quantity", "double"), ("l_extendedprice", "double"),
                 ("l_discount", "double"), ("l_tax", "double"),
                 ("l_returnflag", "string"), ("l_linestatus", "string"),
                 ("l_shipdate", "timestamp_ntz")],
    "events": [("event_id", "bigint"), ("ts", "timestamp"),
               ("ts_ns", "bigint"), ("user_id", "bigint"),
               ("event_type", "string"), ("value", "double"),
               ("props", "string")],
    "documents": [("doc_id", "bigint"), ("text", "string"),
                  ("lang", "string"), ("source", "string"),
                  ("n_chars", "bigint")],
    "embeddings": [("vec_id", "bigint"), ("embedding", "array<float>"),
                   ("label", "int")],
}


def test_all_table_schemas_pinned(spark):
    for name, expected in EXPECTED.items():
        got = load_table(spark, SF_DIR, name).dtypes
        assert got == expected, f"{name}: {got} != {expected}"


def test_events_ts_is_utc_micro_truncated(spark):
    """The ts/ts_ns relationship the oracle depends on: ts is the
    micro-truncation of ts_ns under the UTC-pinned session — and ts_ns is
    micro-derived (always ≡ 0 mod 1000) in EVERY loader branch, so the
    total-order tiebreak is identical across Spark runtimes."""
    import pyspark.sql.functions as F
    ev = load_table(spark, SF_DIR, "events")
    bad = ev.filter(
        (F.unix_micros(F.col("ts")) != F.expr("ts_ns div 1000"))
        | (F.expr("ts_ns % 1000") != 0)).count()
    assert bad == 0
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_tune_session_respects_explicit_shuffle_partitions(spark, monkeypatch):
    """tune_session replaces only the untouched 200 default — a caller's
    explicit shuffle-partition setting must survive catalog calls."""
    from dexscraper_spark import session as sess
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")  # decouple from host env
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        sess._TUNED.clear()  # simulate a fresh, never-tuned session
        spark.conf.set("spark.sql.shuffle.partitions", "123")
        sess.tune_session(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "123"
        sess._TUNED.clear()
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        sess.tune_session(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
        # memoized: a tuned session is never re-touched, so later explicit
        # settings survive every subsequent catalog call
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        sess.tune_session(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "200"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        sess._TUNED.clear()
        sess.tune_session(spark)


def test_tune_session_warns_instead_of_silent_pass(spark, caplog, monkeypatch):
    """A broken conf set on a future runtime must surface as a warning, not
    vanish in a bare except (VERDICT r4 nit #3)."""
    import logging
    from dexscraper_spark import session as sess
    sess._TUNED.clear()

    class BoomConf:
        def set(self, k, *a):
            # the timezone set precedes the guarded block (a failure THERE
            # should stay loud — window math would be wrong)
            if k != "spark.sql.session.timeZone":
                raise RuntimeError("conf is read-only on this build")

        def get(self, *a):
            return "200"

    class FakeSpark:
        conf = BoomConf()

        class sparkContext:
            applicationId = "fake-app-for-warning-test"

    with caplog.at_level(logging.WARNING, logger="dexscraper_spark.session"):
        sess.tune_session(FakeSpark())
    assert any("tune_session" in r.message for r in caplog.records)
    sess._TUNED.clear()
    sess.tune_session(spark)  # leave the shared session actually tuned


def test_tune_session_keeps_explicit_aqe_off(spark):
    """The settings a caller asks for are the settings that run: an
    explicit adaptive.enabled=false survives tune_session on a
    never-tuned app (it used to be forced back on by the first
    load_table)."""
    from dexscraper_spark import session as sess
    try:
        sess._TUNED.clear()  # simulate a fresh, never-tuned session
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        sess.tune_session(spark)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        sess._TUNED.clear()
        sess.tune_session(spark)


def test_documents_scan_widened_data_sized(spark):
    """CPU-dense guard: the documents loader must widen the 1-2-file
    table (the raw file-split rule would serialize regex/shingle stages
    onto 1-2 cores — measured 4-7x on every text/dedup query), but to a
    DATA-SIZED target with the family's denser 64 KiB split, capped at
    the session parallelism (always-full-par was per-task-overhead-bound
    at bench SFs once the r13 Arrow kernels got cheap per row)."""
    import glob
    import os

    from dexscraper_spark.sources.tables import _WIDEN_SPLIT_BYTES_DOCS
    _skip_single_core(spark)
    df = load_table(spark, SF_DIR, "documents")
    total = sum(os.path.getsize(p)
                for p in glob.glob(f"{SF_DIR}/documents.parquet")
                ) or os.path.getsize(f"{SF_DIR}/documents.parquet")
    par = spark.sparkContext.defaultParallelism
    expect = min(par, -(-total // _WIDEN_SPLIT_BYTES_DOCS))
    assert df.rdd.getNumPartitions() == max(
        expect, spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .rdd.getNumPartitions())


def test_byte_conf_parses_spark_byte_strings(spark):
    from dexscraper_spark.sources.tables import _byte_conf
    spark.conf.set("x.test.bytes", "128m")
    assert _byte_conf(spark, "x.test.bytes", 0) == 128 << 20
    spark.conf.set("x.test.bytes", "134217728b")
    assert _byte_conf(spark, "x.test.bytes", 0) == 134217728
    spark.conf.set("x.test.bytes", "1g")
    assert _byte_conf(spark, "x.test.bytes", 0) == 1 << 30
    spark.conf.set("x.test.bytes", "weird")
    assert _byte_conf(spark, "x.test.bytes", 7) == 7
    spark.conf.unset("x.test.bytes")


def test_scan_partition_estimate(spark, tmp_path):
    """The split estimate must mirror Spark's FilePartition sizing:
    few small files -> narrow scan (widen); many tiny files pack to
    ~parallelism partitions (bytesPerCore targeting - NOT narrow, the
    case the raw file-count proxy got right by accident); ONE huge file
    splits to >= parallelism (the case the proxy got wrong: it would
    have paid a pointless widening shuffle); remote URIs stat to None
    (such scans are never widened)."""
    from dexscraper_spark.sources.tables import (_estimate_scan_partitions,
                                                 _local_sizes)
    _skip_single_core(spark)
    par = spark.sparkContext.defaultParallelism

    few = []
    for i in range(2):
        p = tmp_path / f"small{i}.bin"
        p.write_bytes(b"x" * 1024)
        few.append(f"file://{p}")
    est_few = _estimate_scan_partitions(spark, _local_sizes(few), par)
    assert est_few < par

    many = []
    for i in range(par * 4):
        p = tmp_path / f"tiny{i}.bin"
        p.write_bytes(b"x" * 64)
        many.append(f"file://{p}")
    est_many = _estimate_scan_partitions(spark, _local_sizes(many), par)
    assert est_many >= par

    big = tmp_path / "big.bin"
    with open(big, "wb") as fh:
        fh.truncate(2 << 30)  # 2 GiB sparse
    est_big = _estimate_scan_partitions(
        spark, _local_sizes([f"file://{big}"]), par)
    assert est_big >= par

    assert _local_sizes(["hdfs://nn/x.parquet"]) is None


def test_fact_table_scan_widened_above_byte_floor(spark, tmp_path):
    """r13 generalized widening: a single-file table ABOVE the byte floor
    is repartitioned to a DATA-SIZED partition count, capped at the
    session's parallelism (events/orders/lineitem at bench SFs were 1-3
    splits — near-serial map stages on every scalar/filter/aggregate
    suite; always-par was a measured net loss on cheap queries); a table
    BELOW the floor keeps Spark's own split count (dimension tables, and
    Python-eval-dense tables whose tiny batches can't amortize per-task
    worker round-trips — measured net loss on embeddings at sf0.1)."""
    import glob
    import os

    from dexscraper_spark.sources.tables import (_WIDEN_SPLIT_BYTES,
                                                 _widen_narrow_scan)
    _skip_single_core(spark)
    par = spark.sparkContext.defaultParallelism

    big = spark.range(60_000).selectExpr(
        "id", "cast(id as string) || 'x' as pad",
        "uuid() as junk")  # uuid defeats parquet compression: > 1 MiB
    big.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "big"))
    bdf = spark.read.parquet(str(tmp_path / "big"))
    assert bdf.rdd.getNumPartitions() < par
    total = sum(os.path.getsize(p)
                for p in glob.glob(str(tmp_path / "big" / "*.parquet")))
    expect = min(par, -(-total // _WIDEN_SPLIT_BYTES))  # data-sized cap
    assert _widen_narrow_scan(spark, bdf).rdd.getNumPartitions() == expect

    small = spark.range(100).selectExpr("id")
    small.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "small"))
    sdf = spark.read.parquet(str(tmp_path / "small"))
    assert (_widen_narrow_scan(spark, sdf).rdd.getNumPartitions()
            == sdf.rdd.getNumPartitions())

    # the documents rule rides through these parameters: no byte floor,
    # and a family-specific split constant (a 1-byte split saturates at
    # the parallelism cap)
    assert (_widen_narrow_scan(spark, sdf, min_bytes=0, split_bytes=1)
            .rdd.getNumPartitions() == par)
