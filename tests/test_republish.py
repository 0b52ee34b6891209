"""Recall-gated IVF-PQ retrain/republish (VERDICT r8 §next-2).

The extend path keeps centroids + codebooks day-0 frozen by
design; under distribution shift the frozen quantizers degrade and
recall decays. ivf_pq_republish closes the loop: deterministic rebuild
on the current corpus, recall@k gate against the brute-force oracle
(old vs new on the SAME query sample), and a reader-atomic publish of
a new version behind the root's ``_current`` pointer.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from dexscraper_spark import fsio
from dexscraper_spark.operators.quantize import (
    ivf_pq_load, ivf_pq_recover, ivf_pq_republish, ivf_pq_topk)


# r13 (VERDICT #6): multi-second delta/maintenance integration lane — the
# full-suite wall time (52 min measured) no longer fits the driver's
# verify budget, and this module is the dominant cost. The default lane
# (`-m "not slow"`, pyproject addopts) keeps every oracle-coverage and
# unit test; run `make test-all` for the complete suite.
pytestmark = pytest.mark.slow


def _vdf(spark, mat, offset=0):
    rows = [(int(i + offset), [float(x) for x in v])
            for i, v in enumerate(mat)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")


def _day0_and_drift(rng, *, n0=240, nd=720, dim=16):
    """Day-0 mass in one subspace; drifted mass around NEW anchors in a
    disjoint subspace — frozen day-0 centroids/codebooks quantize the
    drifted region poorly (that's the drift being simulated)."""
    a0 = rng.normal(size=(4, dim))
    a0[:, dim // 2:] = 0.0
    day0 = (a0[rng.integers(0, 4, n0)]
            + 0.05 * rng.normal(size=(n0, dim)))
    ad = rng.normal(size=(6, dim))
    ad[:, :dim // 2] = 0.0
    drift = (ad[rng.integers(0, 6, nd)]
             + 0.05 * rng.normal(size=(nd, dim)))
    return day0, drift


PARAMS = dict(nlist=8, m=4, ksub=16, seed=11, k=5, n_queries=24,
              nprobe=2, expand=2)


def test_republish_recovers_drifted_recall(spark, tmp_path):
    rng = np.random.default_rng(7)
    day0, drift = _day0_and_drift(rng)
    path = str(tmp_path / "ann")

    # day-0 publish (first publish: no old artifact, gate = min_recall)
    r0 = ivf_pq_republish(spark, _vdf(spark, day0), path, **PARAMS)
    assert r0["published"] and r0["recall_old"] is None

    # nightly extends bring the drifted mass in with FROZEN quantizers
    from dexscraper_spark.operators.quantize import ivf_pq_extend_saved
    full = _vdf(spark, np.vstack([day0, drift]))
    ivf_pq_extend_saved(
        spark, path, _vdf(spark, drift, offset=len(day0)))

    # republish on the full corpus: the gate measures old vs new on the
    # same sample — drift must have cost recall, rebuild must recover it
    res = ivf_pq_republish(spark, full, path, **PARAMS)
    assert res["published"], res
    assert res["recall_old"] is not None
    assert res["recall_new"] >= res["recall_old"]
    assert res["recall_old"] < 0.95          # drift hurt the old index
    assert res["recall_new"] >= res["recall_old"] + 0.05  # and recovered

    # the published artifact serves queries and records the gate
    index, books, codes = ivf_pq_load(spark, path)
    assert codes.count() == len(day0) + len(drift)
    q = full.orderBy("vec_id").limit(3)
    out = ivf_pq_topk(full, index, codes, q, books, k=3, nprobe=2,
                      expand=2)
    assert out.groupBy("query_id").count().count() == 3
    marker = json.loads(
        fsio.read_text(spark, fsio.join(path, "_current")))
    assert marker["recall_new"] == res["recall_new"]


def test_republish_gate_rejects_and_preserves_artifact(spark, tmp_path):
    rng = np.random.default_rng(3)
    day0, _ = _day0_and_drift(rng, n0=200, nd=0)
    path = str(tmp_path / "ann")
    corpus = _vdf(spark, day0)
    assert ivf_pq_republish(spark, corpus, path, **PARAMS)["published"]
    live = fsio.pointer_resolve(spark, path)
    before = spark.read.parquet(f"{live}/centroids").collect()

    res = ivf_pq_republish(spark, corpus, path, min_recall=1.01,
                           **PARAMS)
    assert not res["published"]
    assert "min_recall" in res["reason"]
    # live artifact untouched, no stray version written
    assert fsio.pointer_resolve(spark, path) == live
    after = spark.read.parquet(f"{live}/centroids").collect()
    assert sorted(map(str, before)) == sorted(map(str, after))
    assert sorted(fsio.list_names(spark, path)) == ["_current",
                                                    "v_000001"]


def test_maintenance_lease_excludes_concurrent_ops(spark, tmp_path):
    """republish/extend on one artifact are mutually exclusive via the
    __republish.lock lease; a crashed holder is cleared by recover."""
    from dexscraper_spark.operators.quantize import ivf_pq_extend_saved

    rng = np.random.default_rng(9)
    day0, _ = _day0_and_drift(rng, n0=120, nd=0)
    path = str(tmp_path / "ann")
    corpus = _vdf(spark, day0)
    assert ivf_pq_republish(spark, corpus, path, **PARAMS)["published"]
    assert not fsio.exists(spark, path + "__republish.lock")  # released

    # a held lease makes both ops fail LOUDLY
    assert fsio.create_exclusive(spark, path + "__republish.lock",
                                 '{"op": "test"}')
    with pytest.raises(RuntimeError, match="lease"):
        ivf_pq_extend_saved(spark, path, _vdf(spark, day0[:4], 1000))
    with pytest.raises(RuntimeError, match="lease"):
        ivf_pq_republish(spark, corpus, path, **PARAMS)

    # recover (the documented crashed-holder repair) clears it
    assert ivf_pq_recover(spark, path) == "ok"
    assert not fsio.exists(spark, path + "__republish.lock")
    res = ivf_pq_extend_saved(spark, path, _vdf(spark, day0[:4], 1000))
    assert res["appended"] == 4
    assert not fsio.exists(spark, path + "__republish.lock")


def test_republish_pointer_layout_reader_atomic(spark, tmp_path):
    """Publishes go to version dirs behind a _current pointer — readers
    resolve through ivf_pq_load with NO rename window; extends land in
    the live version; recover is a no-op 'ok'; orphans from crashed
    publishes are swept by GC; a flat root is refused."""
    from dexscraper_spark.operators.quantize import ivf_pq_extend_saved

    rng = np.random.default_rng(21)
    day0, drift = _day0_and_drift(rng, n0=160, nd=160)
    root = str(tmp_path / "annroot")
    corpus0 = _vdf(spark, day0)

    r1 = ivf_pq_republish(spark, corpus0, root, **PARAMS)
    assert r1["published"] and r1["version"] == "v_000001"
    assert fsio.pointer_read(spark, root) == "v_000001"
    idx, books, codes = ivf_pq_load(spark, root)  # resolves pointer
    n0 = codes.count()
    assert n0 == 160

    # extend appends into the CURRENT version (pointer-resolved)
    res = ivf_pq_extend_saved(spark, root, _vdf(spark, drift, 1000))
    assert res["appended"] == 160 and res["indexed"] == 320
    assert spark.read.parquet(
        fsio.join(root, "v_000001", "codes")).count() == 320

    # crashed publish simulation: an orphan version dir that never
    # flipped must not confuse anything and is swept by the next GC
    os.makedirs(fsio.join(root, "v_000002"))
    fsio.write_text_atomic(
        spark, fsio.join(root, "v_000002", "junk"), "x")

    full = corpus0.unionByName(_vdf(spark, drift, 1000))
    r2 = ivf_pq_republish(spark, full, root, **PARAMS)
    assert r2["published"] and r2["version"] == "v_000003"
    assert fsio.pointer_read(spark, root) == "v_000003"
    names = set(fsio.list_names(spark, root))
    assert "v_000002" not in names          # orphan swept
    assert "v_000001" in names              # laggard readers' copy
    _, _, codes2 = ivf_pq_load(spark, root)
    assert codes2.count() == 320
    # recover on a pointer root: nothing to repair
    from dexscraper_spark.operators.quantize import ivf_pq_recover
    assert ivf_pq_recover(spark, root) == "ok"

    # a FLAT artifact (an ivf_pq_save directory as the root) is still
    # read, but republish refuses it loudly and leaves it untouched
    import shutil
    flat = str(tmp_path / "flat")
    shutil.copytree(fsio.join(root, "v_000003"), flat)
    _, _, fcodes = ivf_pq_load(spark, flat)
    assert fcodes.count() == 320
    with pytest.raises(ValueError, match="FLAT"):
        ivf_pq_republish(spark, corpus0, flat, **PARAMS)
    assert fsio.pointer_read(spark, flat) is None

    # recover: a root with no pointer is loud; a live version whose
    # manifest no longer verifies is refused untouched, by recover and
    # by republish's entry check
    with pytest.raises(FileNotFoundError):
        ivf_pq_recover(spark, str(tmp_path / "absent"))
    import glob
    [*_, part] = sorted(glob.glob(
        os.path.join(root, "v_000003", "codes", "*", "*.parquet")))
    os.remove(part)
    with pytest.raises(ValueError, match="witness"):
        ivf_pq_recover(spark, root)
    with pytest.raises(ValueError, match="witness"):
        ivf_pq_republish(spark, full, root, **PARAMS)
    assert fsio.pointer_read(spark, root) == "v_000003"
