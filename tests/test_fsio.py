"""fsio — the object-store-safe control-plane I/O helper (VERDICT r8
§next-1).

Two path classes, same contract:
* local paths → pure-Python fast path (works with spark=None);
* any other scheme → the JVM Hadoop FileSystem for the session's conf.

The Hadoop branch is exercised for real with a NON-``file:`` scheme:
Hadoop's built-in ``viewfs://`` filesystem with a mount-table link into
the test tmpdir, so every fsio call resolves through
``Path.getFileSystem`` + the Hadoop client API exactly as it would for
``s3a:``/``abfss:`` (a bare scheme swap like registering
RawLocalFileSystem under a fake scheme fails Hadoop's own checkPath —
"Wrong FS" — so viewfs is the honest in-process option), while the
bytes land in a local tmpdir we can independently verify. The same
scheme then drives the version-pointer publish primitives end to end.
"""

from __future__ import annotations

import json
import os

import pytest

from dexscraper_spark import fsio


@pytest.fixture()
def mockfs(spark, tmp_path):
    """Mount ``viewfs://<unique-cluster>/store`` onto tmp_path and
    return a path factory. The cluster name is unique per test:
    FileSystem instances are CACHED by (scheme, authority), so a reused
    name would serve a stale mount table from an earlier test."""
    cluster = "t" + tmp_path.name.replace("_", "").replace("-", "").lower()
    spark._jsc.hadoopConfiguration().set(
        f"fs.viewfs.mounttable.{cluster}.link./store", tmp_path.as_uri())

    def at(*names: str) -> str:
        return fsio.join(f"viewfs://{cluster}/store", *names)

    return at


def _mkdirs(spark, path: str) -> None:
    """Test setup: create a directory on either path class (publishes
    create their directories through the writers, so fsio has no
    mkdirs of its own)."""
    lp = fsio._local_path(path)
    if lp is not None:
        os.makedirs(lp, exist_ok=True)
        return
    fs, jp = fsio._fs(spark, path)
    fs.mkdirs(jp)


# ---------------------------------------------------------------- local

def test_local_roundtrip_no_spark(tmp_path):
    """The local fast path needs no SparkSession at all."""
    p = str(tmp_path / "store")
    assert not fsio.exists(None, p)
    _mkdirs(None, p)
    assert fsio.is_dir(None, p)
    fsio.write_text_atomic(None, fsio.join(p, "spec.json"), '{"k": 3}')
    assert json.loads(fsio.read_text(None, p + "/spec.json")) == {"k": 3}
    assert fsio.list_names(None, p) == ["spec.json"]
    # overwrite is atomic-replace, not append
    fsio.write_text_atomic(None, p + "/spec.json", '{"k": 4}')
    assert json.loads(fsio.read_text(None, p + "/spec.json")) == {"k": 4}
    assert not os.path.exists(p + "/spec.json.tmp")  # tmp cleaned up
    fsio.delete(None, p)
    assert not fsio.exists(None, p)
    fsio.delete(None, p)  # absent: silent no-op
    assert fsio.list_names(None, p) == []


def test_local_file_uri_maps_to_os_path(tmp_path):
    p = f"file://{tmp_path}/x.json"
    fsio.write_text_atomic(None, p, "hi")
    assert (tmp_path / "x.json").read_text() == "hi"
    assert fsio.read_text(None, p) == "hi"


def test_nonlocal_path_without_spark_fails_loudly():
    with pytest.raises(ValueError, match="SparkSession"):
        fsio.read_text(None, "s3a://bucket/key.json")


# --------------------------------------------------- hadoop (mockfs://)

def test_mockfs_text_roundtrip_and_listing(spark, mockfs, tmp_path):
    root = mockfs("ctrl")
    assert not fsio.exists(spark, root)
    _mkdirs(spark, root)
    assert fsio.is_dir(spark, root)
    doc = {"alpha": 0.01, "cols": ["a", "b"]}
    fsio.write_text_atomic(spark, fsio.join(root, "_spec.json"),
                           json.dumps(doc))
    # the bytes really landed on disk (independent local verification)
    assert json.loads(
        (tmp_path / "ctrl" / "_spec.json").read_text()) == doc
    assert json.loads(
        fsio.read_text(spark, fsio.join(root, "_spec.json"))) == doc
    assert fsio.list_names(spark, root) == ["_spec.json"]
    # atomic overwrite through the Hadoop branch too
    fsio.write_text_atomic(spark, fsio.join(root, "_spec.json"), "{}")
    assert fsio.read_text(spark, fsio.join(root, "_spec.json")) == "{}"
    fsio.delete(spark, root)
    assert not fsio.exists(spark, root)
    fsio.delete(spark, root)  # absent: no-op
    assert fsio.list_names(spark, root) == []


def test_mockfs_unicode_text(spark, mockfs):
    p = mockfs("u.txt")
    fsio.write_text_atomic(spark, p, "héllo — κόσμε ✓")
    assert fsio.read_text(spark, p) == "héllo — κόσμε ✓"
    fsio.delete(spark, p)


# --------------------------------------- manifest witnesses (ADVICE r9)

def test_manifest_build_verify_local(tmp_path):
    root = str(tmp_path / "art")
    _mkdirs(None, fsio.join(root, "codes", "__list=0"))
    fsio.write_text_atomic(None, fsio.join(root, "codes", "__list=0",
                                           "part-0"), "abc")
    fsio.write_text_atomic(None, fsio.join(root, "top"), "xy")
    fsio.write_text_atomic(None, fsio.join(root, "junk.tmp"), "t")
    man = fsio.manifest_build(None, root)
    assert man == {"codes/__list=0/part-0": 3, "top": 2}  # .tmp skipped
    assert fsio.manifest_missing(None, root, man) == []
    # missing file and size mismatch both reported
    os.remove(tmp_path / "art" / "top")
    fsio.write_text_atomic(None, fsio.join(root, "codes", "__list=0",
                                           "part-0"), "abcdef")
    assert fsio.manifest_missing(None, root, man) == [
        "codes/__list=0/part-0", "top"]


def test_witness_verify_rules_local(tmp_path):
    root = str(tmp_path / "a")
    _mkdirs(None, root)
    fsio.write_text_atomic(None, fsio.join(root, "data"), "d")
    # no marker -> None (caller decides)
    assert fsio.witness_verify(None, root, ("_committed",)) is None
    # legacy non-JSON marker -> trusted (pre-manifest artifacts)
    fsio.write_text_atomic(None, fsio.join(root, "_committed"), "1")
    assert fsio.witness_verify(None, root, ("_committed",)) is True
    # manifest marker -> verified against the listing
    man = fsio.manifest_build(None, root)
    fsio.write_text_atomic(None, fsio.join(root, "_committed"),
                           json.dumps({"files": man}))
    assert fsio.witness_verify(None, root, ("_committed",)) is True
    os.remove(tmp_path / "a" / "data")
    assert fsio.witness_verify(None, root, ("_committed",)) is False


def test_create_exclusive_local_and_mockfs(spark, mockfs, tmp_path):
    p = str(tmp_path / "locks" / "a.lock")  # parent auto-created
    assert fsio.create_exclusive(None, p, "one") is True
    assert fsio.create_exclusive(None, p, "two") is False
    assert fsio.read_text(None, p) == "one"
    q = mockfs("b.lock")
    assert fsio.create_exclusive(spark, q, "one") is True
    assert fsio.create_exclusive(spark, q, "two") is False
    assert fsio.read_text(spark, q) == "one"


# ------------------------- version-pointer publishes (VERDICT r9 #3)

def test_pointer_primitives_and_gc(spark, mockfs):
    root = mockfs("ptr")
    assert fsio.pointer_read(spark, root) is None
    assert fsio.pointer_resolve(spark, root) == root  # legacy flat
    assert fsio.pointer_next_version(spark, root) == "v_000001"
    with pytest.raises(FileNotFoundError):  # version dir must exist
        fsio.pointer_publish(spark, root, "v_000001")
    _mkdirs(spark, fsio.join(root, "v_000001"))
    fsio.write_text_atomic(spark, fsio.join(root, "v_000001", "d"), "1")
    with pytest.raises(ValueError, match="keep"):
        fsio.pointer_publish(spark, root, "v_000001", keep=1)
    fsio.pointer_publish(spark, root, "v_000001", meta={"n": 7})
    assert fsio.pointer_read(spark, root) == "v_000001"
    assert fsio.pointer_resolve(spark, root) \
        == fsio.join(root, "v_000001")
    assert json.loads(fsio.read_text(
        spark, fsio.join(root, "_current")))["n"] == 7
    # an ORPHAN above current (crashed publish) bumps next_version and
    # is swept by the next successful publish's GC
    _mkdirs(spark, fsio.join(root, "v_000002"))  # orphan, no flip
    assert fsio.pointer_next_version(spark, root) == "v_000003"
    _mkdirs(spark, fsio.join(root, "v_000003"))
    fsio.write_text_atomic(spark, fsio.join(root, "v_000003", "d"), "3")
    fsio.pointer_publish(spark, root, "v_000003", keep=2)
    names = set(fsio.list_names(spark, root))
    # keep=2: current + its predecessor; the orphan is gone
    assert names == {"_current", "v_000001", "v_000003"}
    # meta must not override the version key
    _mkdirs(spark, fsio.join(root, "v_000004"))
    with pytest.raises(ValueError, match="version"):
        fsio.pointer_publish(spark, root, "v_000004",
                             meta={"version": "x"})


def test_pointer_gc_retain_and_concurrent_publisher(spark, mockfs):
    """ADVICE r10 GC hardening: (a) versions ABOVE the new current are
    a concurrent publisher's fully-written, not-yet-flipped work — GC
    must not sweep them; (b) ``retain`` pins manifest-referenced
    versions regardless of keep; (c) keep > available predecessors
    keeps everything instead of under-keeping (the negative-slice
    bug)."""
    root = mockfs("ptr2")

    def mkv(n):
        _mkdirs(spark, fsio.join(root, f"v_{n:06d}"))
        fsio.write_text_atomic(
            spark, fsio.join(root, f"v_{n:06d}", "d"), str(n))

    for n in (1, 2, 3):
        mkv(n)
        fsio.pointer_publish(spark, root, f"v_{n:06d}")
    # (c) keep=4 with only {3 cur, 2 prev, 1 orphan-predecessor}: the
    # old slice arithmetic kept only v2 — everything must survive
    mkv(4)
    fsio.pointer_publish(spark, root, "v_000004", keep=4)
    names = set(fsio.list_names(spark, root))
    assert {"v_000002", "v_000003", "v_000004"} <= names
    # (a) a concurrent publisher's version above current is untouched
    mkv(6)
    mkv(5)
    fsio.pointer_publish(spark, root, "v_000005", keep=2)
    names = set(fsio.list_names(spark, root))
    assert "v_000006" in names          # not swept: above current
    assert "v_000002" not in names      # below + beyond keep: swept
    # (b) retain pins an old version a manifest still references
    mkv(7)
    fsio.pointer_publish(spark, root, "v_000007", keep=2,
                         retain={"v_000004"})
    names = set(fsio.list_names(spark, root))
    assert "v_000004" in names
    mkv(8)
    fsio.pointer_publish(spark, root, "v_000008", keep=2)
    assert "v_000004" not in set(fsio.list_names(spark, root))

    # absent-pointer semantics: version dirs with NO pointer (crashed
    # before the first flip) still resolve as legacy after the brief
    # retry — the flat stores remain live until a publish completes
    root2 = mockfs("ptr3")
    _mkdirs(spark, fsio.join(root2, "v_000001"))
    assert fsio.pointer_read(spark, root2) is None
    assert fsio.pointer_resolve(spark, root2) == root2


def test_pointer_reader_never_sees_window_100_flips(spark, mockfs):
    """The reader-atomicity guarantee (VERDICT r9 §next-3 'done'):
    across 100 publishes on the Hadoop-branch scheme, a concurrent
    reader that resolves the pointer then verifies + reads the
    artifact NEVER observes a missing or partial directory. The only
    tolerated exception is a genuine laggard — the pointer advanced by
    >= 2 versions between the reader's resolve and its read (GC keeps
    current + previous, exactly as documented)."""
    import threading

    root = mockfs("hot")
    failures: list = []
    reads = [0]
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            name = None
            try:
                name = fsio.pointer_read(spark, root)
                if name is None:
                    continue
                live = fsio.join(root, name)
                ok = fsio.witness_verify(spark, live, ("_committed",))
                body = fsio.read_text(spark, fsio.join(live, "data"))
                if ok is not True or body != name:
                    failures.append((name, ok, body))
                reads[0] += 1
            except Exception as e:  # noqa: BLE001 — judged below
                if name is None:
                    failures.append(("pointer", "exception", repr(e)))
                    continue
                now = fsio.pointer_read(spark, root)
                lag = (int(now[2:]) - int(name[2:])) if now else 99
                if lag < 2:
                    failures.append((name, "exception", repr(e)))

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for _ in range(100):
            v = fsio.pointer_next_version(spark, root)
            vdir = fsio.join(root, v)
            _mkdirs(spark, vdir)
            fsio.write_text_atomic(spark, fsio.join(vdir, "data"), v)
            fsio.write_text_atomic(
                spark, fsio.join(vdir, "_committed"),
                json.dumps({"files": fsio.manifest_build(spark, vdir)}))
            fsio.pointer_publish(spark, root, v, keep=2)
    finally:
        stop.set()
        t.join(timeout=30)
    assert failures == []
    assert reads[0] > 0  # the reader really ran against the flips
    assert fsio.pointer_read(spark, root) == "v_000100"


def test_pointer_publish_expect_current_cas(spark, mockfs):
    """VERDICT r11 §wrong-2: a read-compute-publish writer passes the
    version it based its work on as ``expect_current``; the flip is
    refused with PointerMovedError (naming both versions) when a
    concurrent publish moved the pointer in between — instead of
    silently discarding that publish's rows. A matching expectation
    (including "no pointer yet" = None) flips normally; omitting the
    argument keeps the unguarded behavior."""
    root = mockfs("cas")

    def _mkver(n):
        v = f"v_{n:06d}"
        _mkdirs(spark, fsio.join(root, v))
        fsio.write_text_atomic(spark, fsio.join(root, v, "d"), str(n))
        return v

    v1 = _mkver(1)
    # first publish: caller read NO pointer → expect_current=None
    fsio.pointer_publish(spark, root, v1, expect_current=None)
    assert fsio.pointer_read(spark, root) == v1

    # fold A reads v1 ... fold B publishes v2 ... fold A must refuse
    v2, v3 = _mkver(2), _mkver(3)
    fsio.pointer_publish(spark, root, v2, expect_current=v1)
    with pytest.raises(fsio.PointerMovedError) as ei:
        fsio.pointer_publish(spark, root, v3, expect_current=v1)
    assert "v_000001" in str(ei.value) and "v_000002" in str(ei.value)
    assert fsio.pointer_read(spark, root) == v2   # flip did not happen
    # a None expectation is also a mismatch once a pointer exists
    with pytest.raises(fsio.PointerMovedError):
        fsio.pointer_publish(spark, root, v3, expect_current=None)
    # retry on fresh state succeeds; omitting the arg stays unguarded
    fsio.pointer_publish(spark, root, v3, expect_current=v2)
    v4 = _mkver(4)
    fsio.pointer_publish(spark, root, v4)
    assert fsio.pointer_read(spark, root) == v4
