"""CLI tests (reference parity: cli output golden substrings,
tests/test_cli.py:294-359 style) — driven through cli.run()."""

from __future__ import annotations

import json
import pytest


def _run(spark, tmp_path, *argv):
    from dexscraper_spark.cli import run
    out = tmp_path / "out.txt"
    rc = run([*argv, "--output", str(out), "--frames", "4"], spark=spark)
    assert rc == 0
    return out.read_text()


def test_trending_json(spark, tmp_path):
    text = _run(spark, tmp_path, "trending", "--limit", "5", "--format", "json")
    doc = json.loads(text)
    assert doc["type"] == "enhanced_tokens"
    assert doc["total_extracted"] == 8  # 16 tokens, chain=solana keeps half
    assert len(doc["tokens"]) == 5
    tok = doc["tokens"][0]
    assert tok["chain"] in ("solana", "base")
    assert tok["token_address"].startswith("MINTADDR")


def test_jsonl_format(spark, tmp_path):
    text = _run(spark, tmp_path, "top-volume", "--limit", "3",
                "--format", "jsonl")
    lines = [json.loads(l) for l in text.strip().splitlines()]
    assert len(lines) == 3
    assert all("symbol" in l for l in lines)


def test_prometheus_format(spark, tmp_path):
    text = _run(spark, tmp_path, "trending", "--format", "prometheus")
    assert "dexscraper_tokens_extracted_total 8" in text
    assert "dexscraper_token_price_usd{" in text


def test_table_format(spark, tmp_path):
    text = _run(spark, tmp_path, "gainers", "--limit", "2", "--format", "table")
    assert text.splitlines()[0].startswith("symbol")
    assert len(text.strip().splitlines()) == 3  # header + 2 rows


def test_cli_rank_follows_preset_when_servable(spark, capsys):
    """top-volume must rank by decoded volume; rank params the demo wire
    format cannot serve (trending score) degrade to confidence order —
    the same unservable-param fallback as the filter DSL."""
    import json
    from dexscraper_spark.cli import run
    run(["top-volume", "--limit", "3", "--format", "jsonl"], spark=spark)
    lines = [json.loads(l) for l in
             capsys.readouterr().out.strip().splitlines()]
    vols = [r["volume_24h"] for r in lines]
    assert vols == sorted(vols, reverse=True)
    assert vols[0] == max(vols)


def test_cli_stream_runs_structured_streaming(spark, capsys):
    """`stream` must exercise the real streaming path (dexframes source →
    decode → per-micro-batch top-N), not fall back to a batch one-shot."""
    import json
    from dexscraper_spark.cli import run
    rc = run(["stream", "--limit", "3", "--frames", "8",
              "--format", "jsonl"], spark=spark)
    assert rc == 0
    lines = [json.loads(l) for l in
             capsys.readouterr().out.strip().splitlines()]
    assert lines and all("batch" in r for r in lines)
    vols = [r["volume_24h"] for r in lines if r["batch"] == lines[0]["batch"]]
    assert vols == sorted(vols, reverse=True)
    assert all(r["chain"] == "solana" for r in lines)  # pushed filter held


def test_cli_custom_filter_flags_build_nonpreset_config(spark, tmp_path):
    """VERDICT r4 ask #6: the Filters DSL bounds reachable from the CLI —
    a custom (non-preset) config built from --min-*/--max-* flags flows
    end-to-end through the pipeline and actually constrains the rows."""
    import json
    text = _run(spark, tmp_path, "custom", "--rank-by", "volume",
                "--min-liquidity", "51000", "--max-liquidity", "52000",
                "--format", "jsonl", "--limit", "10")
    lines = [json.loads(l) for l in text.strip().splitlines()]
    assert lines, "custom bounds matched nothing"
    assert all(51000 <= l["liquidity"] <= 52000 for l in lines)
    # volume rank honored (decoded column, servable)
    vols = [l["volume_24h"] for l in lines]
    assert vols == sorted(vols, reverse=True)


def test_cli_flags_override_preset_bounds(spark, tmp_path):
    """Flags overlay the preset: trending's liquidity_min=10000 tightened
    to exclude everything leaves an empty (but well-formed) result."""
    import json
    text = _run(spark, tmp_path, "trending", "--min-liquidity", "1e12",
                "--format", "json")
    doc = json.loads(text)
    assert doc["total_extracted"] == 0 and doc["tokens"] == []


@pytest.mark.slow  # r13 fast-lane split (>10 s)
def test_cli_curate_full_then_delta_roundtrip(spark, tmp_path, capsys):
    """The nightly pipeline end-to-end from the CLI: full curation
    writes shards + store; a delta run against the store writes
    new-survivor shards, retractions, and an updated store — and
    (curated_full_old − retracted) ∪ curated_delta equals one full run
    over everything."""
    import json as _json

    from pyspark.sql import functions as F

    from dexscraper_spark.cli import run

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hi = docs.agg(F.max("doc_id")).first()[0]
    old = docs.filter(F.col("doc_id") <= hi // 2)
    new = docs.filter(F.col("doc_id") > hi // 2)
    old.write.parquet(str(tmp_path / "old"))
    new.write.parquet(str(tmp_path / "new"))
    docs.write.parquet(str(tmp_path / "all"))

    base = ["--min-quality", "0.3", "--min-tokens", "3"]
    assert run(["curate", "--docs", str(tmp_path / "old"),
                "--out", str(tmp_path / "day0"),
                "--state", str(tmp_path / "store0"), *base],
               spark=spark) == 0
    day0 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert day0["mode"] == "full" and day0["survivors"] > 0

    assert run(["curate", "--docs", str(tmp_path / "new"), "--delta",
                "--state", str(tmp_path / "store0"),
                "--state-out", str(tmp_path / "store1"),
                "--out", str(tmp_path / "day1"), *base],
               spark=spark) == 0
    day1 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert day1["mode"] == "delta"

    assert run(["curate", "--docs", str(tmp_path / "all"),
                "--out", str(tmp_path / "ref"),
                "--state", str(tmp_path / "storeref"), *base],
               spark=spark) == 0

    cols = ["doc_id", "split"]
    merged = (spark.read.parquet(str(tmp_path / "day0/curated"))
              .join(spark.read.parquet(str(tmp_path / "day1/retracted")),
                    "doc_id", "left_anti").select(*cols)
              .unionByName(spark.read.parquet(
                  str(tmp_path / "day1/curated")).select(*cols)))
    ref = spark.read.parquet(str(tmp_path / "ref/curated")).select(*cols)
    assert ref.exceptAll(merged).count() == 0
    assert merged.exceptAll(ref).count() == 0
    # updated store == the reference full run's store
    s1 = spark.read.parquet(str(tmp_path / "store1"))
    sref = spark.read.parquet(str(tmp_path / "storeref"))
    assert sref.exceptAll(s1).count() == 0 and s1.exceptAll(sref).count() == 0


def test_cli_curate_argument_validation(spark, capsys):
    from dexscraper_spark.cli import run
    assert run(["curate"], spark=spark) == 2
    assert run(["curate", "--docs", "x", "--out", "y", "--delta"],
               spark=spark) == 2


def test_cli_bars_full_then_delta_matches_one_shot(spark, tmp_path, capsys):
    """The nightly rollup CLI: day-0 full build on 90% of ticks, then a
    --delta fold of the remaining 10% — the updated state and cascade
    must equal a one-shot full run over all ticks."""
    import json as _json

    from pyspark.sql import functions as F

    from dexscraper_spark.cli import run

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    cut = ev.selectExpr("percentile(unix_timestamp(ts), 0.9) p").first()["p"]
    ev.filter(F.unix_timestamp("ts") <= cut).write.parquet(
        str(tmp_path / "old"))
    ev.filter(F.unix_timestamp("ts") > cut).write.parquet(
        str(tmp_path / "new"))
    ev.write.parquet(str(tmp_path / "all"))

    assert run(["bars", "--events", str(tmp_path / "old"),
                "--out", str(tmp_path / "day0"),
                "--state", str(tmp_path / "s0")], spark=spark) == 0
    day0 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert day0["mode"] == "full" and day0["state_rows"] > 0

    assert run(["bars", "--events", str(tmp_path / "new"), "--delta",
                "--state", str(tmp_path / "s0"),
                "--state-out", str(tmp_path / "s1"),
                "--out", str(tmp_path / "day1")], spark=spark) == 0
    day1 = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    assert run(["bars", "--events", str(tmp_path / "all"),
                "--out", str(tmp_path / "oneshot"),
                "--state", str(tmp_path / "sfull")], spark=spark) == 0
    full = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert day1["state_rows"] == full["state_rows"]
    assert day1["bars"] == full["bars"]

    def rows(path):
        return sorted(tuple(r) for r in
                      spark.read.parquet(path).collect())
    assert rows(str(tmp_path / "s1")) == rows(str(tmp_path / "sfull"))
    assert rows(str(tmp_path / "day1/bars")) \
        == rows(str(tmp_path / "oneshot/bars"))


def test_cli_bars_argument_validation(spark, capsys):
    from dexscraper_spark.cli import run
    assert run(["bars"], spark=spark) == 2
    assert run(["bars", "--events", "x", "--out", "y", "--delta"],
               spark=spark) == 2
    assert run(["bars", "--events", "x", "--out", "y", "--delta",
                "--state", "s", "--state-out", "s"], spark=spark) == 2
    assert "destroy" in capsys.readouterr().err


def test_cli_curate_delta_refuses_in_place_state_overwrite(spark, tmp_path,
                                                           capsys):
    """--state-out == --state would have Spark delete the store before
    the lazy read of it completes (verified data loss): must refuse."""
    from dexscraper_spark.cli import run
    st = str(tmp_path / "store")
    assert run(["curate", "--docs", "x", "--out", "y", "--delta",
                "--state", st, "--state-out", st], spark=spark) == 2
    assert "destroy" in capsys.readouterr().err
    # a symlink alias of the store (store -> store_v3, a common
    # versioning layout) must not bypass the guard: realpath, not abspath
    import os
    real = tmp_path / "store_v3"
    real.mkdir()
    link = tmp_path / "store_link"
    os.symlink(real, link)
    assert run(["curate", "--docs", "x", "--out", "y", "--delta",
                "--state", str(link), "--state-out", str(real)],
               spark=spark) == 2
    assert "destroy" in capsys.readouterr().err


@pytest.mark.slow  # r13 fast-lane split (>10 s)
def test_cli_curate_zero_survivor_batch_emits_summary(spark, tmp_path,
                                                      capsys):
    """An all-gated delta batch (normal nightly outcome) must emit the
    summary line, not crash re-reading a footerless empty write."""
    import json as _json

    from pyspark.sql import functions as F

    from dexscraper_spark.cli import run

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .filter(F.col("doc_id") < 40)
    docs.write.parquet(str(tmp_path / "old"))
    hi = docs.agg(F.max("doc_id")).first()[0]
    junk = spark.createDataFrame(
        [(hi + 1 + i, "!!! ???") for i in range(3)],
        "doc_id long, text string").select(
        "doc_id", "text", F.lit("und").alias("lang"),
        F.lit("syn").alias("source"), F.length("text").alias("n_chars"))
    junk.write.parquet(str(tmp_path / "junk"))

    base = ["--min-quality", "0.3", "--min-tokens", "3"]
    assert run(["curate", "--docs", str(tmp_path / "old"),
                "--out", str(tmp_path / "day0"),
                "--state", str(tmp_path / "s0"), *base], spark=spark) == 0
    capsys.readouterr()
    assert run(["curate", "--docs", str(tmp_path / "junk"), "--delta",
                "--state", str(tmp_path / "s0"),
                "--state-out", str(tmp_path / "s1"),
                "--out", str(tmp_path / "day1"), *base], spark=spark) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["new_survivors"] == 0 and out["retracted"] == 0


def test_cli_pack_both_modes(spark, tmp_path, capsys):
    import json as _json

    from dexscraper_spark.cli import run

    docs = "/root/testdata/sf0.001/documents.parquet"
    assert run(["pack"], spark=spark) == 2
    capsys.readouterr()

    assert run(["pack", "--docs", docs, "--out", str(tmp_path / "c"),
                "--max-tokens", "128"], spark=spark) == 0
    c = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # every chunk but the last is exactly full -> avg fill ~= capacity
    assert c["mode"] == "chunk" and c["units"] > 0
    assert c["avg_fill"] > 100
    back = spark.read.parquet(str(tmp_path / "c/packed"))
    assert back.count() >= c["docs"] * 0  # readable, schema intact
    assert set(back.columns) == {"chunk_id", "doc_id", "tok_start",
                                 "tok_end"}

    assert run(["pack", "--docs", docs, "--out", str(tmp_path / "b"),
                "--mode", "bins", "--max-tokens", "128",
                "--num-shards", "4"], spark=spark) == 0
    b = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert b["mode"] == "bins" and b["units"] > 0
    assert b["avg_fill"] <= 128
    back = spark.read.parquet(str(tmp_path / "b/packed"))
    assert back.count() == b["docs"]  # every doc in exactly one bin


def test_cli_zorder_full_then_delta(spark, tmp_path, capsys):
    import glob as _glob
    import json as _json

    from pyspark.sql import functions as F

    from dexscraper_spark.cli import run

    base = spark.range(0, 20_000).select(
        "id",
        (F.pmod(F.col("id") * 2654435761, F.lit(100003)).cast("double")
         / 100003.0).alias("x"),
        (F.pmod(F.col("id") * 40503 + 7, F.lit(99991)).cast("double")
         / 99991.0).alias("y"))
    base.write.parquet(str(tmp_path / "in"))
    rc = run(["zorder", "--input", str(tmp_path / "in"),
              "--out", str(tmp_path / "tab"),
              "--zorder-cols", "x,y", "--n-files", "8"], spark=spark)
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary == {"mode": "full", "cols": ["x", "y"], "bits": 8,
                       "rows": 20_000}

    base.limit(2_000).write.parquet(str(tmp_path / "delta"))
    rc = run(["zorder", "--delta", "--input", str(tmp_path / "delta"),
              "--out", str(tmp_path / "tab")], spark=spark)
    assert rc == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["mode"] == "delta" and summary["rows"] == 22_000
    assert len(_glob.glob(str(tmp_path / "tab" / "*.parquet"))) >= 10


def test_cli_zorder_argument_validation(spark, tmp_path, capsys):
    from dexscraper_spark.cli import run

    assert run(["zorder", "--out", "/tmp/x"], spark=spark) == 2
    assert "required" in capsys.readouterr().err
    spark.range(5).selectExpr("id", "id * 1.0 as x") \
        .write.mode("overwrite").parquet(str(tmp_path / "zin"))
    assert run(["zorder", "--input", str(tmp_path / "zin"),
                "--out", "/tmp/x", "--zorder-cols", "x"],
               spark=spark) == 2
    assert "2-4" in capsys.readouterr().err
    assert run(["zorder", "--input", str(tmp_path / "zin"),
                "--out", str(tmp_path / "zin"),
                "--zorder-cols", "id,x"], spark=spark) == 2
    assert "destroy the input" in capsys.readouterr().err


def test_cli_zorder_bits_and_self_append_guards(spark, tmp_path, capsys):
    from dexscraper_spark.cli import run

    spark.range(50).selectExpr("id", "id * 1.0 as x", "id * 2.0 as y") \
        .write.mode("overwrite").parquet(str(tmp_path / "zin2"))
    assert run(["zorder", "--input", str(tmp_path / "zin2"),
                "--out", str(tmp_path / "zo2"), "--zorder-cols", "x,y",
                "--bits", "0"], spark=spark) == 2
    assert "bits must be >= 1" in capsys.readouterr().err
    # delta self-append would silently double every row
    assert run(["zorder", "--delta", "--input", str(tmp_path / "zin2"),
                "--out", str(tmp_path / "zin2")], spark=spark) == 2
    assert "duplicate every row" in capsys.readouterr().err


@pytest.mark.slow  # r13 fast-lane split (>10 s)
def test_cli_ann_build_query_extend(spark, tmp_path, capsys):
    import json as _json

    from pyspark.sql import functions as F

    from dexscraper_spark import fsio
    from dexscraper_spark.cli import run

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding")
    emb.filter("vec_id < 400").write.parquet(str(tmp_path / "vecs"))
    emb.filter("vec_id >= 400") \
        .write.parquet(str(tmp_path / "newvecs"))
    emb.orderBy("vec_id").limit(4) \
        .write.parquet(str(tmp_path / "queries"))
    idx = str(tmp_path / "index")

    rc = run(["ann", "--vectors", str(tmp_path / "vecs"),
              "--index", idx, "--nlist", "8"], spark=spark)
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"mode": "build", "indexed": 400, "nlist": 8}

    rc = run(["ann", "--mode", "query", "--index", idx,
              "--queries", str(tmp_path / "queries"),
              "--k", "5", "--nprobe", "8"], spark=spark)
    assert rc == 0
    lines = [_json.loads(x) for x in
             capsys.readouterr().out.strip().splitlines()]
    by_q = {}
    for r in lines:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3}
    assert all(len(v) == 5 for v in by_q.values())
    assert all(r["neighbor_id"] != q for q, v in by_q.items() for r in v)

    # extend appends only NEW ids (rerun-idempotent)
    rc = run(["ann", "--mode", "extend", "--index", idx,
              "--vectors", str(tmp_path / "newvecs")], spark=spark)
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"mode": "extend", "indexed": 500}
    rc = run(["ann", "--mode", "extend", "--index", idx,
              "--vectors", str(tmp_path / "newvecs")], spark=spark)
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"mode": "extend", "indexed": 500}  # no double-add

    # queries can now reach the extended ids
    rc = run(["ann", "--mode", "query", "--index", idx,
              "--queries", str(tmp_path / "newvecs"),
              "--k", "3", "--nprobe", "8"], spark=spark)
    assert rc == 0
    assert capsys.readouterr().out.strip()

    # republish: recall-gated retrain on the full corpus, pointer flip
    emb.write.parquet(str(tmp_path / "all"))
    rc = run(["ann", "--mode", "republish", "--index", idx,
              "--vectors", str(tmp_path / "all"), "--nlist", "8",
              "--k", "5", "--nprobe", "4"], spark=spark)
    assert rc == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mode"] == "republish" and out["published"]
    assert out["recall_old"] is not None
    assert spark.read.parquet(
        f"{fsio.pointer_resolve(spark, idx)}/codes").count() == 500
    # a refused gate exits nonzero and leaves the artifact alone
    rc = run(["ann", "--mode", "republish", "--index", idx,
              "--vectors", str(tmp_path / "all"), "--nlist", "8",
              "--min-recall", "1.01"], spark=spark)
    assert rc == 1
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert not out["published"] and "min_recall" in out["reason"]
    assert spark.read.parquet(
        f"{fsio.pointer_resolve(spark, idx)}/codes").count() == 500


def test_cli_ann_one_publish_protocol(spark, tmp_path, capsys):
    """Every ANN index is a version-pointer root: build publishes
    v_000001 behind _current and query answers through the pointer; a
    root holding a FLAT ivf_pq_save artifact is refused by build and
    republish with every file left byte-identical, the build before it
    starts any Spark job; --layout is gone."""
    import os
    import shutil

    from dexscraper_spark import fsio
    from dexscraper_spark.cli import build_parser, run

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet") \
        .select("vec_id", "embedding").filter("vec_id < 200")
    vecs, queries = str(tmp_path / "vecs"), str(tmp_path / "queries")
    emb.write.parquet(vecs)
    emb.orderBy("vec_id").limit(3).write.parquet(queries)
    idx = str(tmp_path / "index")
    small = ["--nlist", "4", "--pq-ksub", "16"]

    assert run(["ann", "--vectors", vecs, "--index", idx, *small],
               spark=spark) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) \
        == {"mode": "build", "indexed": 200, "nlist": 4}
    assert fsio.pointer_read(spark, idx) == "v_000001"
    assert sorted(os.listdir(idx)) == ["_current", "v_000001"]

    assert run(["ann", "--mode", "query", "--index", idx, "--queries",
                queries, "--k", "3", "--nprobe", "4"], spark=spark) == 0
    lines = [json.loads(x) for x in
             capsys.readouterr().out.strip().splitlines()]
    assert sorted({r["query_id"] for r in lines}) == [0, 1, 2]
    assert len(lines) == 9

    # the version directory IS an ivf_pq_save artifact: as a root of
    # its own it is the flat layout
    flat = str(tmp_path / "flat")
    shutil.copytree(os.path.join(idx, "v_000001"), flat)

    def snapshot():
        out = {}
        for d, _, files in os.walk(flat):
            for f in files:
                with open(os.path.join(d, f), "rb") as fh:
                    out[os.path.relpath(os.path.join(d, f), flat)] = \
                        fh.read()
        return out

    before = snapshot()
    sc = spark.sparkContext
    sc.setJobGroup("ann-refused-build", "build over a flat root")
    try:
        assert run(["ann", "--vectors", vecs, "--index", flat, *small],
                   spark=spark) != 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert "FLAT" in capsys.readouterr().err
    # refused at entry: no vector read, KMeans fit or codebook training
    assert sc.statusTracker().getJobIdsForGroup("ann-refused-build") == []
    assert run(["ann", "--mode", "republish", "--vectors", vecs,
                "--index", flat, *small], spark=spark) != 0
    assert "FLAT" in capsys.readouterr().err
    assert snapshot() == before
    assert sorted(os.listdir(tmp_path)) == ["flat", "index", "queries",
                                            "vecs"]

    with pytest.raises(SystemExit) as ei:
        build_parser().parse_args(["ann", "--layout", "pointer"])
    assert ei.value.code == 2


def test_cli_ann_validation(spark, capsys):
    from dexscraper_spark.cli import run

    assert run(["ann"], spark=spark) == 2
    assert "required" in capsys.readouterr().err
    assert run(["ann", "--mode", "query", "--index", "/tmp/nope"],
               spark=spark) == 2
    assert "queries" in capsys.readouterr().err


def test_cli_command_set_and_retired_flags(capsys):
    """The parser knows the presets plus stream/curate/bars/pack/zorder/
    ann; `select`, `pipeline` and their flags exit 2 like any unknown
    argument, and abbreviated flags stay rejected."""
    from dexscraper_spark.cli import PRESETS, build_parser

    p = build_parser()
    kept = list(PRESETS) + ["stream", "curate", "bars", "pack", "zorder",
                            "ann"]
    command = next(a for a in p._actions if a.dest == "command")
    assert command.choices == kept
    for cmd in kept:
        assert p.parse_args([cmd]).command == cmd
    for argv in (["select"], ["pipeline"],
                 ["curate", "--eval-docs", "e"],
                 ["curate", "--quality-model", "m"],
                 ["ann", "--upsert"], ["curate", "--min-qual", "0.4"]):
        with pytest.raises(SystemExit) as ei:
            p.parse_args(argv)
        assert ei.value.code == 2, argv
    capsys.readouterr()


@pytest.mark.slow  # r13 fast-lane split (>10 s)
def test_cli_curate_migrate_retiers_store(spark, tmp_path, capsys):
    """curate --migrate: a 64-bit store retiered to 128 must equal the
    from-scratch 128-bit store (and validate its arg contract)."""
    import json as _json

    from pyspark.sql import functions as F

    from dexscraper_spark.cli import run

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .filter(F.col("doc_id") < 120)
    docs.write.parquet(str(tmp_path / "docs"))
    base = ["--min-quality", "0.3", "--min-tokens", "3"]
    assert run(["curate", "--docs", str(tmp_path / "docs"),
                "--out", str(tmp_path / "day0"),
                "--state", str(tmp_path / "store64"), *base],
               spark=spark) == 0
    capsys.readouterr()
    assert run(["curate", "--migrate", "--docs", str(tmp_path / "docs"),
                "--out", str(tmp_path / "mig"),
                "--state", str(tmp_path / "store64"),
                "--state-out", str(tmp_path / "store128"),
                "--fingerprint-bits", "128", *base], spark=spark) == 0
    summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["mode"] == "migrate" \
        and summary["fingerprint_bits"] == 128
    assert run(["curate", "--docs", str(tmp_path / "docs"),
                "--out", str(tmp_path / "ref"),
                "--state", str(tmp_path / "storeref"),
                "--fingerprint-bits", "128", *base], spark=spark) == 0
    capsys.readouterr()
    mig = spark.read.parquet(str(tmp_path / "store128"))
    ref = spark.read.parquet(str(tmp_path / "storeref"))
    assert mig.exceptAll(ref).count() == 0
    assert ref.exceptAll(mig).count() == 0

    # arg contract: mutually exclusive with --delta; state-out required
    # and distinct from state
    assert run(["curate", "--migrate", "--delta",
                "--docs", str(tmp_path / "docs"),
                "--out", str(tmp_path / "x"),
                "--state", str(tmp_path / "store64"),
                "--state-out", str(tmp_path / "y")], spark=spark) == 2
    assert run(["curate", "--migrate", "--docs", str(tmp_path / "docs"),
                "--out", str(tmp_path / "x"),
                "--state", str(tmp_path / "store64")], spark=spark) == 2
    assert run(["curate", "--migrate", "--docs", str(tmp_path / "docs"),
                "--out", str(tmp_path / "x"),
                "--state", str(tmp_path / "store64"),
                "--state-out", str(tmp_path / "store64")],
               spark=spark) == 2


@pytest.mark.slow  # r13 fast-lane split (>10 s)
def test_cli_curate_wide_tier_roundtrip_and_mismatch(spark, tmp_path,
                                                     capsys):
    """--fingerprint-bits 128 end to end: full run writes a wide-schema
    store, a delta against it matches the full recompute, and a delta
    run at the DEFAULT tier against the wide store fails loudly."""
    import json as _json

    from pyspark.sql import functions as F

    from dexscraper_spark.cli import run

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .filter(F.col("doc_id") < 120)
    old = docs.filter(F.col("doc_id") < 80)
    new = docs.filter(F.col("doc_id") >= 80)
    old.write.parquet(str(tmp_path / "old"))
    new.write.parquet(str(tmp_path / "new"))
    docs.write.parquet(str(tmp_path / "all"))

    base = ["--min-quality", "0.3", "--min-tokens", "3",
            "--fingerprint-bits", "128"]
    assert run(["curate", "--docs", str(tmp_path / "old"),
                "--out", str(tmp_path / "day0"),
                "--state", str(tmp_path / "store0"), *base],
               spark=spark) == 0
    capsys.readouterr()
    store0 = spark.read.parquet(str(tmp_path / "store0"))
    assert {"simhash_lo", "simhash_hi"} <= set(store0.columns)

    assert run(["curate", "--docs", str(tmp_path / "new"), "--delta",
                "--state", str(tmp_path / "store0"),
                "--state-out", str(tmp_path / "store1"),
                "--out", str(tmp_path / "day1"), *base],
               spark=spark) == 0
    capsys.readouterr()
    assert run(["curate", "--docs", str(tmp_path / "all"),
                "--out", str(tmp_path / "ref"),
                "--state", str(tmp_path / "storeref"), *base],
               spark=spark) == 0
    capsys.readouterr()
    s1 = spark.read.parquet(str(tmp_path / "store1"))
    sref = spark.read.parquet(str(tmp_path / "storeref"))
    assert sref.exceptAll(s1).count() == 0
    assert s1.exceptAll(sref).count() == 0

    # tier mismatch: default (64) config against the wide store
    import pytest

    with pytest.raises(ValueError, match="fingerprint_bits"):
        run(["curate", "--docs", str(tmp_path / "new"), "--delta",
             "--state", str(tmp_path / "store0"),
             "--state-out", str(tmp_path / "store2"),
             "--out", str(tmp_path / "day2"),
             "--min-quality", "0.3", "--min-tokens", "3"],
            spark=spark)
