"""End-to-end corpus-curation pipeline invariants (plans/curation.py):
the properties a training-data curator depends on, asserted on the real
documents table plus adversarial duplicates."""

from __future__ import annotations

from pyspark.sql import functions as F

from dexscraper_spark.plans.curation import (
    CurationConfig, curate_corpus, curation_stats)
import pytest

SF_DIR = "/root/testdata/sf0.001"
CFG = CurationConfig(min_quality=0.3, min_tokens=3,
                     simhash_max_hamming=3, simhash_bands=4)


def _docs(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # adversarial add-ons: one exact twin and one near twin of doc 0,
    # plus a junk doc every gate should drop
    d0 = docs.filter(F.col("doc_id") == 0).select("text").first()["text"]
    extra = spark.createDataFrame(
        [(100001, d0, "en", "syn", len(d0)),                  # exact dup
         (100002, d0 + " trailing", "en", "syn", len(d0) + 9),  # near dup
         (100003, "!!! ???", "und", "syn", 7)],               # junk
        "doc_id long, text string, lang string, source string, n_chars long")
    return docs.unionByName(extra)


@pytest.mark.slow  # r13 fast-lane split (>10 s)
def test_curation_invariants(spark):
    docs = _docs(spark)
    out = curate_corpus(docs, config=CFG).persist()
    rows = out.count()
    assert rows > 0

    # gates hold on every surviving row
    bad = out.filter((F.col("quality") < CFG.min_quality)
                     | (F.col("n_tokens") < CFG.min_tokens)
                     | ~F.col("lang").isin(*CFG.languages)).count()
    assert bad == 0
    assert out.filter(F.col("doc_id") == 100003).count() == 0

    # no exact duplicates survive, and the min-id copy won
    assert out.select("text").distinct().count() == rows
    assert out.filter(F.col("doc_id") == 100001).count() == 0
    assert out.filter(F.col("doc_id") == 0).count() == 1

    # no near-dup pair survives WITHIN the output (the pipeline's whole
    # point): re-running the same detector on the output finds nothing
    from dexscraper_spark.operators.dedup import simhash_near_pairs
    residual = simhash_near_pairs(
        out, id_col="doc_id", text_col="text",
        num_bands=CFG.simhash_bands,
        max_hamming=CFG.simhash_max_hamming).count()
    assert residual == 0
    # and every pair the detector finds on the gate-surviving input lost
    # its non-min side (for any pair (a,b) with a<b, b is never its
    # component's min, so b must be gone)
    from dexscraper_spark.functions import textstats as tx
    gated = docs.select(
        "doc_id", "text",
        tx.lang_id(F.col("text")).alias("lang"),
        tx.quality_score(F.col("text")).alias("quality"),
        tx.token_count(F.col("text")).alias("n_tokens"),
    ).filter((F.col("quality") >= CFG.min_quality)
             & F.col("lang").isin(*CFG.languages)
             & (F.col("n_tokens") >= CFG.min_tokens))
    gated = gated.join(  # exact-dup stage precedes simhash in the pipeline
        gated.groupBy(F.xxhash64(F.col("text")).alias("__h"))
        .agg(F.min("doc_id").alias("doc_id")).select("doc_id"),
        "doc_id", "left_semi")
    in_pairs = simhash_near_pairs(
        gated, id_col="doc_id", text_col="text",
        num_bands=CFG.simhash_bands,
        max_hamming=CFG.simhash_max_hamming)
    assert in_pairs.count() > 0  # the fixture must exercise the stage
    losers = {r["id_b"] for r in in_pairs.collect()}
    assert out.filter(F.col("doc_id").isin(*losers)).count() == 0

    # deterministic: a rerun yields the identical corpus + splits
    again = curate_corpus(_docs(spark), config=CFG)
    sym_diff = out.select("doc_id", "split").exceptAll(
        again.select("doc_id", "split")).count()
    assert sym_diff == 0

    # split sanity: all three present, train is the majority
    parts = dict(out.groupBy("split").count().collect())
    assert set(parts) == {"train", "valid", "test"}
    assert parts["train"] > parts["valid"] and parts["train"] > parts["test"]


def test_curation_stats_accounting(spark):
    out = curate_corpus(_docs(spark), config=CFG)
    stats = curation_stats(out)
    total = stats.agg(F.sum("n_docs")).collect()[0][0]
    assert total == out.count()
    r = stats.first()
    assert r["total_tokens"] > 0 and 0.0 <= r["mean_quality"] <= 1.0


def test_write_curated_partition_layout(spark, tmp_path):
    out = curate_corpus(_docs(spark), config=CFG)
    from dexscraper_spark.plans.curation import write_curated
    dest = str(tmp_path / "corpus")
    write_curated(out, dest)
    import os
    splits = {d for d in os.listdir(dest) if d.startswith("split=")}
    assert splits == {"split=train", "split=valid", "split=test"}
    langs = {d for d in os.listdir(f"{dest}/split=train")
             if d.startswith("lang=")}
    assert langs  # at least one language shard under train
    back = spark.read.parquet(dest)
    assert back.count() == out.count()
    # partition pruning: a (split, lang) read touches only that shard
    one = back.filter((F.col("split") == "train")
                      & (F.col("lang") == sorted(langs)[0][5:]))
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_curation_survives_adversarial_texts(spark):
    """The pipeline must not crash on scraped-corpus edge inputs (empty,
    whitespace-only, punctuation-only, unicode, degenerate-long texts)
    and must still satisfy its invariants on them."""
    rows = [
        (1, ""), (2, "   \t  "), (3, "!!! ??? ;;; ///"),
        (4, "the quick brown fox jumps over the lazy dog and then some " * 2),
        (5, "the quick brown fox jumps over the lazy dog and then some " * 2),
        (6, "ümlaut Ärger straße çédille ñandú " * 4),
        (7, "a" * 500), (8, ("word " * 200).strip()),
        (9, "el rápido zorro marrón salta sobre el perro que es perezoso"),
        (10, "the slow green fox walks under the busy dog every day now"),
    ]
    docs = spark.createDataFrame(
        [(i, t, "en", "syn", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = curate_corpus(docs, config=CFG).persist()
    got = {r["doc_id"] for r in out.collect()}
    assert 1 not in got and 2 not in got and 3 not in got  # gated junk
    assert not (4 in got and 5 in got)                     # exact dups merged
    assert out.count() == out.select("text").distinct().count()


def test_gate_arrow_kernel_matches_exprs(spark):
    """The r12 Arrow gate kernel (textstats.gate_metrics_arrow) must be
    BIT-identical to the pure-expression metrics — lang, n_tokens, and
    the quality double compared by raw IEEE bits — on edge texts chosen
    to surface every known engine-semantics divergence: Java-\\s vs
    unicode whitespace (NBSP, U+0085, ideographic space), code-point
    lengths on astral-plane chars, unicode lowercasing (İ, ẞ, final
    sigma), control chars, empty/whitespace/punctuation-only, long
    degenerate runs, and NULL text. Guards the _doc_gate_metrics twin
    against drift from lang_id/quality_score/token_count."""
    import struct as _struct

    from dexscraper_spark.plans.curation import _gate

    texts = [
        None, "", " ", "\t\n\x0b\x0c\r", "\xa0", "the\xa0la",
        "!!! ??? ;;; ///", "the quick brown fox jumps over the lazy dog",
        "THE QUICK BROWN FOX", "İstanbul the the", "ΜΑΣ the ΑΣ",
        "ẞß İ ı", "𝄞😀𝐀 the of and", "a" * 500, ("word " * 200).strip(),
        "el rápido zorro de la casa que es", "le chien de la rue est",
        "der schnelle fuchs und die in zu", "und und und",
        "\x0bthe\x0cof\rand\tto\nin", "\x00\x1f\x7f the of",
        "12345 67890 numbers only 54321", "the" + " " * 100 + "of",
        "　the　of　", "x" * 19999 + " y", "z " * 10001,
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    # compare the UNGATED metrics (min_quality 0 keeps every non-NULL
    # row on both paths; predicates are identical JVM exprs either way)
    open_cfg = CurationConfig(min_quality=0.0, min_tokens=0,
                              languages=("en", "es", "fr", "de", "und"))

    def rows(vectorized):
        out = _gate(docs, "doc_id", "text", open_cfg,
                    vectorized=vectorized).collect()
        return sorted(
            (r["doc_id"], r["lang"], _struct.pack("d", r["quality"]),
             r["n_tokens"]) for r in out)

    assert rows(True) == rows(False)


def test_curation_partition_independence(spark):
    """The curated corpus must be identical whatever the input
    partitioning — the pipeline's determinism claim (min-id survivors,
    portable-hash split) applied end-to-end."""
    docs = _docs(spark)
    a = curate_corpus(docs.repartition(1), config=CFG) \
        .select("doc_id", "split")
    b = curate_corpus(docs.repartition(7), config=CFG) \
        .select("doc_id", "split")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
