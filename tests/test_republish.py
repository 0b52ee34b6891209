"""Recall-gated IVF-PQ retrain/republish (VERDICT r8 §next-2).

The extend path keeps centroids + codebooks day-0 frozen by
design; under distribution shift the frozen quantizers degrade and
recall decays. ivf_pq_republish closes the loop: deterministic rebuild
on the current corpus, recall@k gate against the brute-force oracle
(old vs new on the SAME query sample), and the 2-rename atomic swap
with crash roll-forward/back (ivf_pq_recover).
"""

from __future__ import annotations

import json

import numpy as np
import pytest

from dexscraper_spark import fsio
from dexscraper_spark.operators.quantize import (
    ivf_pq_load, ivf_pq_recover, ivf_pq_republish, ivf_pq_save,
    ivf_pq_topk)


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
        fsio.read_text(spark, fsio.join(path, "_committed")))
    assert marker["recall_new"] == res["recall_new"]


def test_republish_gate_rejects_and_preserves_artifact(spark, tmp_path):
    rng = np.random.default_rng(3)
    day0, _ = _day0_and_drift(rng, n0=200, nd=0)
    path = str(tmp_path / "ann")
    corpus = _vdf(spark, day0)
    assert ivf_pq_republish(spark, corpus, path, **PARAMS)["published"]
    before = spark.read.parquet(f"{path}/centroids").collect()

    res = ivf_pq_republish(spark, corpus, path, min_recall=1.01,
                           **PARAMS)
    assert not res["published"]
    assert "min_recall" in res["reason"]
    # live artifact untouched, no stray siblings
    after = spark.read.parquet(f"{path}/centroids").collect()
    assert sorted(map(str, before)) == sorted(map(str, after))
    assert not fsio.exists(spark, path + "__rebuilding")
    assert not fsio.exists(spark, path + "__old")


def test_recover_rolls_forward_and_back(spark, tmp_path):
    rng = np.random.default_rng(5)
    day0, _ = _day0_and_drift(rng, n0=200, nd=0)
    path = str(tmp_path / "ann")
    corpus = _vdf(spark, day0)
    assert ivf_pq_republish(spark, corpus, path, **PARAMS)["published"]
    n_live = spark.read.parquet(f"{path}/codes").count()

    # (a) crash AFTER the marker, between the two renames: path gone,
    # committed tmp present -> roll forward
    fsio.rename(spark, path, path + "__rebuilding")
    assert fsio.exists(spark,
                       fsio.join(path + "__rebuilding", "_committed"))
    assert ivf_pq_recover(spark, path) == "rolled_forward"
    assert spark.read.parquet(f"{path}/codes").count() == n_live

    # (b) abnormal state: path gone, tmp UNcommitted, __old present ->
    # roll back (and clear the partial tmp)
    fsio.rename(spark, path, path + "__old")
    fsio.mkdirs(spark, path + "__rebuilding")
    fsio.write_text_atomic(
        spark, fsio.join(path + "__rebuilding", "partial"), "x")
    assert ivf_pq_recover(spark, path) == "rolled_back"
    assert spark.read.parquet(f"{path}/codes").count() == n_live
    assert not fsio.exists(spark, path + "__rebuilding")

    # (c) live artifact with stale siblings -> ok + cleanup
    fsio.mkdirs(spark, path + "__old")
    assert ivf_pq_recover(spark, path) == "ok"
    assert not fsio.exists(spark, path + "__old")

    # (d) nothing anywhere -> loud
    with pytest.raises(FileNotFoundError):
        ivf_pq_recover(spark, str(tmp_path / "absent"))

    # (d2) crashed FIRST publish: only an UNCOMMITTED __rebuilding dir.
    # recover clears it (so the path never wedges) and raises; a direct
    # republish on the same state proceeds to a clean first publish.
    p2 = str(tmp_path / "first")
    fsio.mkdirs(spark, p2 + "__rebuilding")
    fsio.write_text_atomic(
        spark, fsio.join(p2 + "__rebuilding", "partial"), "x")
    with pytest.raises(FileNotFoundError):
        ivf_pq_recover(spark, p2)
    assert not fsio.exists(spark, p2 + "__rebuilding")
    fsio.mkdirs(spark, p2 + "__rebuilding")  # crash again, then retry
    res2 = ivf_pq_republish(spark, corpus, p2, **PARAMS)
    assert res2["published"] and res2["recall_old"] is None
    assert spark.read.parquet(f"{p2}/codes").count() == n_live

    # (d3) PARTIAL path (object-store copy-backed rename crashed
    # mid-copy): a witness-less path is never blessed — replaced ONLY
    # from this run's positively COMMITTED tmp
    fsio.rename(spark, path, path + "__rebuilding")  # committed tmp
    fsio.mkdirs(spark, path)                          # partial, no marker
    fsio.write_text_atomic(spark, fsio.join(path, "junk"), "x")
    assert ivf_pq_recover(spark, path) == "rolled_forward"
    assert spark.read.parquet(f"{path}/codes").count() == n_live

    # (d3b) witness-less path + only an OLDER __old sibling: REFUSED
    # untouched — rolling an existing path back to an older copy could
    # silently discard vectors appended since (the marker-disabled-
    # cluster data-loss vector)
    fsio.mkdirs(spark, path + "__old")
    fsio.write_text_atomic(spark, fsio.join(path + "__old", "x"), "1")
    fsio.delete(spark, fsio.join(path, "_committed"))
    fsio.delete(spark, fsio.join(path, "_complete"))
    fsio.delete(spark, fsio.join(path, "codes", "_SUCCESS"))
    with pytest.raises(ValueError, match="witness"):
        ivf_pq_recover(spark, path)
    assert fsio.exists(spark, fsio.join(path, "codes"))  # untouched
    # restoring the marker makes it live again; siblings get cleaned
    fsio.write_text_atomic(spark, fsio.join(path, "_complete"), "1")
    assert ivf_pq_recover(spark, path) == "ok"
    assert not fsio.exists(spark, path + "__old")
    assert spark.read.parquet(f"{path}/codes").count() == n_live

    # (d4) witness-less path with NO recovery sibling: refuse, never
    # delete (could be a hand-built artifact without markers)
    p3 = str(tmp_path / "bare")
    fsio.mkdirs(spark, p3)
    fsio.write_text_atomic(spark, fsio.join(p3, "data"), "x")
    with pytest.raises(ValueError, match="witness"):
        ivf_pq_recover(spark, p3)
    assert fsio.exists(spark, fsio.join(p3, "data"))

    # (e) republish's OWN entry recovery: simulate (a) again (the tmp
    # must carry the commit marker d3b stripped), then call republish
    # directly — it must finish the swap and keep going
    fsio.write_text_atomic(spark, fsio.join(path, "_committed"), "{}")
    fsio.rename(spark, path, path + "__rebuilding")
    res = ivf_pq_republish(spark, corpus, path, **PARAMS)
    assert res["published"] and res["recall_old"] is not None


def test_recover_parked_marker_partial_path(spark, tmp_path):
    """ADVICE r9 (medium): on object stores the tmp->path rename is a
    per-file copy and the underscore markers move FIRST — a crash then
    leaves path carrying the _committed witness while the data files
    still sit in tmp. The bare marker must not certify the artifact
    (the old behavior would return "ok" and DELETE tmp, destroying the
    only copy); recovery must reunite the halves and re-verify."""
    rng = np.random.default_rng(3)
    day0, _ = _day0_and_drift(rng, n0=160, nd=0)
    path = str(tmp_path / "ann")
    corpus = _vdf(spark, day0)
    assert ivf_pq_republish(spark, corpus, path, **PARAMS)["published"]
    n_live = spark.read.parquet(f"{path}/codes").count()

    # simulate: swap renamed path away fully, then tmp->path crashed
    # after moving only the root-level underscore files
    tmp = path + "__rebuilding"
    fsio.rename(spark, path, tmp)
    fsio.mkdirs(spark, path)
    for name in fsio.list_names(spark, tmp):
        if name.startswith("_"):
            fsio.rename(spark, fsio.join(tmp, name),
                        fsio.join(path, name))
    assert fsio.exists(spark, fsio.join(path, "_committed"))
    assert not fsio.exists(spark, fsio.join(path, "codes"))

    assert ivf_pq_recover(spark, path) == "rolled_forward"
    assert not fsio.exists(spark, tmp)
    assert spark.read.parquet(f"{path}/codes").count() == n_live
    # the reunited artifact is fully loadable
    idx, books, codes = ivf_pq_load(spark, path)
    assert codes.count() == n_live


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
    """layout='pointer': publishes go to version dirs behind a
    _current pointer — readers resolve through ivf_pq_load with NO
    rename window; extends land in the live version; recover is a
    no-op 'ok'; orphans from crashed publishes are swept by GC."""
    from dexscraper_spark.operators.quantize import ivf_pq_extend_saved

    rng = np.random.default_rng(21)
    day0, drift = _day0_and_drift(rng, n0=160, nd=160)
    root = str(tmp_path / "annroot")
    corpus0 = _vdf(spark, day0)

    r1 = ivf_pq_republish(spark, corpus0, root, layout="pointer",
                          **PARAMS)
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
    fsio.mkdirs(spark, fsio.join(root, "v_000002"))
    fsio.write_text_atomic(
        spark, fsio.join(root, "v_000002", "junk"), "x")

    full = corpus0.unionByName(_vdf(spark, drift, 1000))
    r2 = ivf_pq_republish(spark, full, root, **PARAMS)  # auto->pointer
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

    # layout misuse fails loudly both ways
    with pytest.raises(ValueError, match="pointer"):
        ivf_pq_republish(spark, full, root, layout="swap", **PARAMS)
    flat = str(tmp_path / "flat")
    assert ivf_pq_republish(spark, corpus0, flat, **PARAMS)["published"]
    with pytest.raises(ValueError, match="FLAT"):
        ivf_pq_republish(spark, corpus0, flat, layout="pointer",
                         **PARAMS)
