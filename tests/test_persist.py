"""The tracked-persist registry: every internal operator persist must be
releasable through registry.clear_plan_cache() — the r6 ADVICE leak was
operators persisting intermediates (simhash fingerprints, OHLC fine
bars) behind handles nothing could unpersist, so refresh/cold-build
cycles accumulated block-manager storage.

Assertions go through the tracked handles' storage levels, not
getPersistentRDDs counts: dedup_components' localCheckpoint blocks are
lineage-anchored and reclaimed by the ContextCleaner on GC, so a raw
RDD count is timing-dependent."""

from __future__ import annotations

from pyspark.sql import functions as F

from dexscraper_spark import persist as P


def _stored(df) -> bool:
    lvl = df.storageLevel
    return lvl.useMemory or lvl.useDisk


def test_operator_internal_persists_release_on_clear(spark):
    from dexscraper_spark.operators.dedup import simhash_near_pairs
    from dexscraper_spark.plans.registry import clear_plan_cache

    clear_plan_cache()
    assert P._TRACKED == []

    docs = spark.createDataFrame(
        [(i, f"some document text number {i % 3} with words")
         for i in range(20)],
        "doc_id long, text string")
    simhash_near_pairs(docs, id_col="doc_id", text_col="text").count()

    # the simhash fingerprint table is tracked... (the OHLC cascade used
    # to contribute a handle too; its single-shuffle form needs none)
    handles = list(P._TRACKED)
    assert len(handles) >= 1
    assert all(_stored(df) for df in handles)

    # ...and ONE switch releases them all
    clear_plan_cache()
    assert P._TRACKED == []
    assert all(not _stored(df) for df in handles)


def test_curation_cache_clear_delegates_to_shared_tracker(spark):
    """release_tracked() must release persists taken INSIDE the
    operators the curation pipeline calls (simhash fingerprints), not
    only its own dedup frame — the r6 ADVICE leak."""
    from dexscraper_spark.plans.curation import curate_corpus

    P.release_tracked()
    docs = spark.createDataFrame(
        [(i, "a perfectly reasonable english document with enough words "
             f"to pass the gates number {i}") for i in range(30)],
        "doc_id long, text string")
    curate_corpus(docs).count()
    handles = list(P._TRACKED)
    assert len(handles) >= 2          # dedup frame + fingerprint table
    assert all(_stored(df) for df in handles)
    P.release_tracked()
    assert P._TRACKED == []
    assert all(not _stored(df) for df in handles)


def test_materialized_artifacts_release_deterministically(spark):
    """materialize_artifact dirs are deleted by release_artifacts (the
    deterministic half the localCheckpoint approach could not give);
    a stale frame read after release fails LOUDLY, matching the plan
    cache's staleness contract. release_tracked must NOT delete them:
    memo entries hold live scans, and standalone release_tracked
    callers don't clear the memo."""
    import os

    import pytest

    from dexscraper_spark.persist import materialize_artifact

    P.release_artifacts()
    df = spark.range(10).withColumnRenamed("id", "v")
    art = materialize_artifact(df, "testart")
    assert art.count() == 10
    [path] = P._ARTIFACT_DIRS
    assert os.path.isdir(path)
    P.release_tracked()          # persists only — dir must survive
    assert os.path.isdir(path) and art.count() == 10
    P.release_artifacts()
    assert not os.path.exists(path) and P._ARTIFACT_DIRS == []
    with pytest.raises(Exception):
        art.count()  # loud, never silently stale


def test_release_artifact_frees_one_frame(spark):
    """Per-frame release (the IvfIndex.unpersist path): deletes exactly
    the frame's own dir and returns False for non-artifact frames."""
    import os

    from dexscraper_spark.persist import materialize_artifact, release_artifact

    P.release_artifacts()
    a = materialize_artifact(spark.range(5), "arta")
    b = materialize_artifact(spark.range(5), "artb")
    pa, pb = P._ARTIFACT_DIRS
    assert release_artifact(a) is True
    assert not os.path.exists(pa) and os.path.isdir(pb)
    assert P._ARTIFACT_DIRS == [pb]
    assert release_artifact(spark.range(3)) is False  # not an artifact
    assert b.count() == 5
    P.release_artifacts()


def test_release_tracked_leaves_other_artifacts_usable(spark):
    """Regression (r7 review): release_tracked used to sweep ALL
    artifact dirs — leaving the memoized ohlc-bars artifact serving a
    scan of a deleted dir (FILE_NOT_EXIST on every later call, with no
    rebuild path short of clear_plan_cache). The artifact a memo entry
    holds must stay readable."""
    from dexscraper_spark.plans.catalog import ohlc_bars
    from dexscraper_spark.plans.registry import clear_plan_cache

    clear_plan_cache()
    n = ohlc_bars(spark, "/root/testdata/sf0.001").count()
    assert n > 0
    P.release_tracked()
    assert ohlc_bars(spark, "/root/testdata/sf0.001").count() == n
    clear_plan_cache()


def test_ivf_unpersist_releases_artifact_dir(spark):
    """IvfIndex.unpersist() must actually free a cache=True index (the
    assignment is a parquet artifact; plain unpersist() is a no-op on
    it)."""
    import os

    from dexscraper_spark.operators.similarity import ivf_build

    P.release_artifacts()
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = ivf_build(emb, nlist=4, cache=True)
    [path] = P._ARTIFACT_DIRS
    assert os.path.isdir(path)
    idx.unpersist()
    assert not os.path.exists(path) and P._ARTIFACT_DIRS == []


def test_one_memo_evicts_other_apps_and_refresh_frees_everything(spark):
    """The persist layer end to end: a lookup under a second
    applicationId drops the first app's entries; clear_plan_cache()
    leaves no memo entry of any kind, no tracked persist and no artifact
    dir; an artifact-materializing registry row rebuilds correctly
    afterwards."""
    import os

    from conftest import SF_DIR as sf
    from dexscraper_spark.plans.registry import all_queries, clear_plan_cache

    clear_plan_cache()
    excel = all_queries()["sink_excel"].build
    before = sorted(excel(spark, sf).collect())
    assert before
    assert {"plan", "table", "xtokens"} <= {k[1] for k in P._MEMO}
    dirs = list(P._ARTIFACT_DIRS)
    assert dirs and all(os.path.isdir(d) for d in dirs)

    class OtherApp:
        class sparkContext:
            applicationId = "another-app"

    assert P.get_or_build(OtherApp, "probe", 1, lambda: "built") == "built"
    assert list(P._MEMO) == [("another-app", "probe", 1)]

    P.tracked_persist(spark.range(3)).count()
    clear_plan_cache()
    assert P._MEMO == {} and P._TRACKED == [] and P._ARTIFACT_DIRS == []
    assert not any(os.path.exists(d) for d in dirs)

    assert sorted(excel(spark, sf).collect()) == before
    clear_plan_cache()
