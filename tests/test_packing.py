"""Sequence packing: concat-and-chunk (distributed prefix sum) and
first-fit-sequential bin packing, pinned against single-threaded Python
references and partitioning-independence checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from dexscraper_spark.operators.packing import (
    chunk_token_stream, pack_greedy)

SF = "/root/testdata/sf0.001"
CAP = 64


def _docs(spark):
    from dexscraper_spark.functions.textstats import token_count
    return (spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", token_count(F.col("text"))
                    .cast("long").alias("n_tokens")))


def test_chunk_token_stream_matches_reference(spark):
    """Row-for-row equal to the obvious sequential chunker, and the
    core invariants: all interior chunks hold exactly CAP tokens, every
    document's tokens covered once in order."""
    docs = _docs(spark)
    rows = sorted((r["doc_id"], r["n_tokens"])
                  for r in docs.filter(F.col("n_tokens") > 0).collect())
    # sequential reference
    want, end = [], 0
    for did, n in rows:
        start, end = end, end + n
        for c in range(start // CAP, (end - 1) // CAP + 1):
            want.append((c, did, max(0, c * CAP - start),
                         min(n, (c + 1) * CAP - start)))
    got = sorted(tuple(r) for r in
                 chunk_token_stream(docs, max_tokens=CAP,
                                    num_partitions=7).collect())
    assert got == sorted(want)

    # invariants straight off the result
    per_chunk = {}
    for c, did, ts, te in got:
        per_chunk[c] = per_chunk.get(c, 0) + (te - ts)
    last = max(per_chunk)
    assert all(v == CAP for c, v in per_chunk.items() if c != last)
    assert 0 < per_chunk[last] <= CAP
    covered = {}
    for c, did, ts, te in got:
        covered.setdefault(did, []).append((c, ts, te))
    sizes = dict(rows)
    for did, spans in covered.items():
        spans.sort()
        assert spans[0][1] == 0 and spans[-1][2] == sizes[did]
        for (c1, _, e1), (c2, s2, _) in zip(spans, spans[1:]):
            assert c2 == c1 + 1 and s2 == e1  # contiguous, in order


def test_chunk_token_stream_partitioning_independent(spark):
    """The distributed prefix sum must not depend on the physical
    layout: a shuffled, differently-partitioned input chunks
    identically."""
    docs = _docs(spark)
    a = sorted(tuple(r) for r in
               chunk_token_stream(docs, max_tokens=CAP,
                                  num_partitions=3).collect())
    b = sorted(tuple(r) for r in
               chunk_token_stream(docs.repartition(13), max_tokens=CAP,
                                  num_partitions=11).collect())
    assert a == b


def test_pack_greedy_matches_reference_and_caps(spark):
    docs = _docs(spark)
    out = pack_greedy(docs, max_tokens=CAP, num_shards=8).collect()
    # per-shard python reference (same order, same greedy rule)
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    import collections
    fills = collections.Counter()
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["doc_id"])
        local, fill, want_bins = -1, 0, []
        for r in rs:
            n = r["n_tokens"]
            if n > CAP:
                local += 1
                want_bins.append((local, True))
                fill = CAP + 1
                continue
            if local < 0 or fill + n > CAP:
                local += 1
                fill = 0
            want_bins.append((local, False))
            fill += n
        for r, (lb, ov) in zip(rs, want_bins):
            assert r["bin_id"] == shard * (1 << 40) + lb
            assert r["oversize"] == ov
            fills[r["bin_id"]] += r["n_tokens"]
    for r in out:
        if not r["oversize"]:
            assert fills[r["bin_id"]] <= CAP
    # every doc packed exactly once
    assert len(out) == docs.count()
    assert len({r["doc_id"] for r in out}) == len(out)


def test_pack_greedy_partitioning_independent(spark):
    docs = _docs(spark)
    a = sorted(tuple(r) for r in
               pack_greedy(docs, max_tokens=CAP, num_shards=8).collect())
    b = sorted(tuple(r) for r in
               pack_greedy(docs.repartition(17), max_tokens=CAP,
                           num_shards=8).collect())
    assert a == b


def test_pack_greedy_zero_size_after_oversize_and_string_ids(spark):
    """Regression (r7 review): a zero-token doc right after an oversize
    doc must open a fresh bin, not join the flagged bin (which would
    put a non-oversize row in an over-capacity bin); and string doc ids
    (content hashes — the common case) must pass through with their
    type intact."""
    rows = [("aaa", 100), ("aab", 0), ("aac", 10), ("aad", 10)]
    docs = spark.createDataFrame(rows, "doc_id string, n_tokens long")
    out = pack_greedy(docs, id_col="doc_id", size_col="n_tokens",
                      max_tokens=CAP, num_shards=1)
    assert dict(out.dtypes)["doc_id"] == "string"
    r = {x["doc_id"]: x for x in out.collect()}
    assert r["aaa"]["oversize"] is True
    assert r["aab"]["oversize"] is False
    assert r["aab"]["bin_id"] != r["aaa"]["bin_id"]
    assert r["aab"]["bin_id"] == r["aac"]["bin_id"] == r["aad"]["bin_id"]


def test_packing_validates_arguments(spark):
    import pytest
    docs = _docs(spark)
    with pytest.raises(ValueError, match="max_tokens"):
        chunk_token_stream(docs, max_tokens=0)
    with pytest.raises(ValueError, match="max_tokens"):
        pack_greedy(docs, max_tokens=-5)
    neg = spark.createDataFrame([(1, -3)], "doc_id long, n_tokens long")
    with pytest.raises(Exception, match="negative"):
        pack_greedy(neg, max_tokens=CAP, num_shards=1).collect()
