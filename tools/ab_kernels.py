"""Single-session interleaved A/B for the r13 vectorized kernels.

Builds the OLD (JVM fold / per-doc Python loop) and NEW (Arrow
vectorized) forms of the ambiguous queries in ONE warm session and times
them strictly alternated (O,N,O,N,...), so host bursts hit both arms
equally. The old forms are reconstructed inline from the same library
pieces (byte-for-byte the pre-ac3ace2 logic); results are cross-checked
equal before timing so the A/B cannot silently compare different
answers.

Usage: python tools/ab_kernels.py [-n ROUNDS] [case ...]
Cases: topk ivf tm (default: all)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def _old_cosine_topk(corpus, queries, *, k, round_to, dim=64):
    """Pre-ac3ace2 cosine_topk: per-pair JVM fold (verbatim old logic)."""
    from dexscraper_spark.operators.similarity import _dot, _norm, _safe_div
    q = broadcast(queries.select(F.col("vec_id").alias("query_id"),
                                 F.col("embedding").alias("__qv"),
                                 _norm(F.col("embedding"), dim).alias("__qn")))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("__cv"),
                      _norm(F.col("embedding"), dim).alias("__cn"))
    cos = _safe_div(_dot(F.col("__qv"), F.col("__cv"), dim),
                    F.col("__qn") * F.col("__cn"))
    if round_to is not None:
        p = float(10 ** round_to)
        cos = F.floor(cos * p + F.lit(0.5)) / p
    scored = (q.crossJoin(c)
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id", cos.alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _old_ivf_probe(index, queries, *, k, nprobe, round_to):
    """Pre-ac3ace2 ivf_query: fold cosine on the candidate join."""
    from dexscraper_spark.operators.similarity import _dot, _norm, _safe_div
    q = queries.select(F.col(index.id_col).alias("query_id"),
                       F.col(index.vec_col).alias("__qv"),
                       _norm(F.col(index.vec_col)).alias("__qn"))
    c_cos = _safe_div(_dot(F.col("__qv"), F.col("centroid")),
                      F.col("__qn") * _norm(F.col("centroid")))
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__ccos").desc(), F.col("list_id").asc())
    probes = (q.crossJoin(broadcast(index.centroids))
              .withColumn("__ccos", c_cos)
              .withColumn("__pr", F.row_number().over(w_probe))
              .filter(F.col("__pr") <= nprobe)
              .select("query_id", "__qv", "__qn",
                      F.col("list_id").alias("__list")))
    cand = probes.join(
        index.assigned.select(F.col(index.id_col).alias("neighbor_id"),
                              F.col(index.vec_col).alias("__cv"),
                              F.col("__vnorm").alias("__cn"), "__list"),
        "__list")
    cos = _safe_div(_dot(F.col("__qv"), F.col("__cv")),
                    F.col("__qn") * F.col("__cn"))
    if round_to is not None:
        p = float(10 ** round_to)
        cos = F.floor(cos * p + F.lit(0.5)) / p
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (cand.filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", cos.alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _old_text_metrics(docs):
    """Pre-ac3ace2 text_metrics_arrow: per-document Python loop kernel."""
    import pyarrow as pa
    from dexscraper_spark.functions.textstats import _doc_text_metrics

    narrow = docs.select(F.col("doc_id"),
                         F.col("n_chars").cast("long").alias("n_chars"),
                         F.col("text"))
    names = ["doc_id", "n_chars", "measured_chars", "n_tokens",
             "avg_token_len", "punct_ratio", "n_bpe_tokens", "quality"]

    def _kernel(batches):
        for batch in batches:
            texts = batch.column(2).to_pylist()
            rows = [_doc_text_metrics(t) for t in texts]
            cols = list(zip(*rows)) if rows else [[]] * 6
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1),
                 pa.array(cols[0], pa.int64()),
                 pa.array(cols[1], pa.int64()),
                 pa.array(cols[2], pa.float64()),
                 pa.array(cols[3], pa.float64()),
                 pa.array(cols[4], pa.int32()),
                 pa.array(cols[5], pa.float64())],
                names=names)

    return narrow.mapInArrow(
        _kernel,
        "doc_id long, n_chars long, measured_chars long, n_tokens long, "
        "avg_token_len double, punct_ratio double, n_bpe_tokens int, "
        "quality double")


def main() -> None:
    args = sys.argv[1:]
    rounds = 5
    if "-n" in args:
        i = args.index("-n")
        rounds = int(args[i + 1])
        del args[i:i + 2]
    cases = args or ["topk", "ivf", "tm"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from dexscraper_spark import TABLES
    from dexscraper_spark.operators.similarity import (
        cosine_topk, ivf_build_deterministic, ivf_query)
    from dexscraper_spark.functions.textstats import text_metrics_arrow
    from dexscraper_spark.session import get_spark
    from dexscraper_spark.sources.tables import load_table

    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "8"))
    spark = get_spark("ab", shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")
    for t in TABLES:
        load_table(spark, sf_dir, t).cache().count()
    spark.range(1).toDF("x").mapInPandas(lambda it: it, "x long").count()

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    qdf = emb.filter(F.col("vec_id") < 10)
    pairs = {}
    if "topk" in cases:
        pairs["topk"] = (
            _old_cosine_topk(emb, qdf, k=5, round_to=6),
            cosine_topk(emb, qdf, k=5, round_to=6))
    if "ivf" in cases:
        index = ivf_build_deterministic(emb, nlist=8, seed=42, cache=True)
        pairs["ivf"] = (
            _old_ivf_probe(index, qdf, k=5, nprobe=8, round_to=6),
            ivf_query(index, qdf, k=5, nprobe=8, round_to=6))
    if "tm" in cases:
        pairs["tm"] = (_old_text_metrics(docs), text_metrics_arrow(docs))

    # equivalence gate before timing
    for name, (old, new) in pairs.items():
        a = sorted(map(tuple, old.collect()))
        b = sorted(map(tuple, new.collect()))
        assert a == b, f"{name}: OLD != NEW ({len(a)} vs {len(b)} rows)"
        print(f"{name}: old==new over {len(a)} rows", flush=True)

    res = {n: {"old": [], "new": []} for n in pairs}
    for r in range(rounds):
        for name, (old, new) in pairs.items():
            for arm, df in (("old", old), ("new", new)):
                t0 = time.time()
                # fresh wrapper per run: a repeated action on the SAME
                # DataFrame reuses registered map outputs (stages skip),
                # which would time only the post-shuffle tail. select("*")
                # forces a fresh QueryExecution → fresh shuffle deps →
                # full recompute, like the bench's registry wrapper.
                df.select("*").toPandas()
                res[name][arm].append(time.time() - t0)
    for name, d in res.items():
        for arm in ("old", "new"):
            ts = d[arm]
            print(f"{name:5s} {arm}: min={min(ts):.3f} "
                  f"med={statistics.median(ts):.3f} max={max(ts):.3f}")
        print(f"{name:5s} speedup(min) = {min(d['old'])/min(d['new']):.3f}")


if __name__ == "__main__":
    main()
