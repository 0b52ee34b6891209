"""Similarity search over embedding columns (BASELINE.json north star).

Brute-force cosine top-k is the correctness baseline; the scale path is
LSH bucketing (random-hyperplane signs) so candidate generation is an
equi-join instead of a cross product.

Everything is JVM-side array arithmetic (``zip_with`` + ``aggregate``)
— no Python in the hot path. The dot-product fold is sequential
left-to-right, which makes the result deterministic for a given pair
regardless of parallelism (the fold runs inside one row).

Scale notes:
* brute force: queries × corpus is a broadcast nested-loop — keep the
  query side tiny (broadcast) and the corpus streaming; per-partition
  top-k heaps via TakeOrderedAndProject when a global k is wanted, or a
  per-query window rank for k-per-query.
* LSH: ``num_planes``-bit signature per vector; candidates share a
  signature prefix band. Hyperplanes are derived deterministically from
  xxhash64 so executors need no broadcast state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from dexscraper_spark.persist import get_or_build


DEFAULT_DIM = 64


def _dot(a, b, dim: int = DEFAULT_DIM):
    """Dot product as a sequential left fold over ``zip_with``.

    Measured note: an unrolled 64-term Add chain looks codegen-friendly
    but is ~3x SLOWER here — Janino bails on the giant expressions and the
    per-pair norm recomputation loses to the fold's compact loop. The fold
    is also order-identical to DuckDB's ``list_sum`` (bit-exact oracles).
    ``dim`` is accepted for API symmetry; the fold handles any length.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)


def _norm(a, dim: int = DEFAULT_DIM):
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def _safe_div(num, denom):
    """Cosine convention for degenerate vectors: a zero-norm embedding has
    no direction, so its similarity to anything is 0 — and Spark 4's ANSI
    mode turns the naive 0/0 into a runtime DIVIDE_BY_ZERO that would kill
    the whole job on one bad row (a real hazard in scraped corpora)."""
    return F.when(denom != 0.0, num / denom).otherwise(F.lit(0.0))


def _cosine_score_fold(scored_in, *, round_to: int | None):
    """JVM-fold twin of :func:`_cosine_rerank_arrow` — same 6-column
    input (id_a, id_b, qv, nv, qn, nn), same (id_a, id_b, cosine)
    output, scored by the sequential ``aggregate(zip_with(...))`` fold
    in the scan stage instead of a ``mapInArrow`` hop.

    Which twin to use is a PAIR-COUNT call (r13 interleaved A/B): the
    Arrow kernel amortizes its JVM→Python boundary only past ~10⁴–10⁵
    pairs per invocation (lsh_bucketed's exactness-twin config, blocked
    exact pairs) and LOSES ~15-40% under it (brute-force top-k and the
    IVF probe at bench scale: ~5k pairs, where the two worker hops cost
    more than the fold), so the small-pair consumers keep the fold.
    Both forms are bit-identical by construction (the kernel replays the
    fold's per-pair operation order; pinned by
    test_lsh_arrow_rerank_matches_fold and the shared DuckDB oracles).
    """
    fields = scored_in.schema.fields
    ida, idb = fields[0].name, fields[1].name
    qv, nv, qn, nn = (fields[i].name for i in range(2, 6))
    cos = _safe_div(_dot(F.col(qv), F.col(nv)), F.col(qn) * F.col(nn))
    if round_to is not None:
        p = float(10 ** round_to)
        cos = F.floor(cos * p + F.lit(0.5)) / p
    return scored_in.select(ida, idb, cos.alias("cosine"))


def _cosine_rerank_arrow(scored_in, *, round_to: int | None):
    """(id_a, id_b, __qv, __nv, __qn, __nn) → (id_a, id_b, cosine) via ONE
    mapInArrow pass — the r13 vectorized twin of the per-pair JVM fold
    (guide §4.2).

    Bit-exactness contract (same discipline as the textstats kernels):
    the JVM form is ``aggregate(zip_with(qv, nv, x·y), 0.0, acc+x)`` — a
    sequential left-to-right float64 fold per pair — followed by
    ``when(qn·nn ≠ 0, dot/(qn·nn)).otherwise(0)`` and optionally
    ``floor(cos·10^r + 0.5)/10^r``. The kernel replays the SAME per-pair
    operation order, vectorized ACROSS pairs instead of within one: the
    accumulator loop runs over dimensions (acc = acc + x[:,d]·y[:,d]),
    so each pair's additions associate left-to-right exactly like the
    fold; element casts (float→double), the divide and the fixed-point
    rounding are elementwise IEEE-754 ops identical to the JVM's (floor
    of a |v|≤10^r double is exactly representable, so the JVM's
    long-floor-then-divide equals numpy's float floor). No reduction is
    reordered — numpy never sees a cross-pair sum. Pinned by
    test_lsh_arrow_rerank_matches_fold; the registered consumers' DuckDB
    oracles hash the output, so any drift fails the round gate loudly.

    Nulls: embeddings in every consumer are non-null fixed-dim arrays
    (schema contract); asserted per batch so a violation fails loudly
    rather than misaligning the flatten."""
    import numpy as np
    import pyarrow as pa

    fields = scored_in.schema.fields
    out_schema = (f"{fields[0].name} {fields[0].dataType.simpleString()}, "
                  f"{fields[1].name} {fields[1].dataType.simpleString()}, "
                  "cosine double")
    names = [fields[0].name, fields[1].name, "cosine"]
    p = float(10 ** round_to) if round_to is not None else None

    def _kernel(batches):
        for b in batches:
            nrows = b.num_rows
            if nrows == 0:
                continue
            qv, nv = b.column(2), b.column(3)
            assert qv.null_count == 0 and nv.null_count == 0, \
                "cosine rerank: null embedding"
            x = np.asarray(qv.flatten(), dtype=np.float64).reshape(nrows, -1)
            y = np.asarray(nv.flatten(), dtype=np.float64).reshape(nrows, -1)
            assert x.shape == y.shape, "cosine rerank: ragged embeddings"
            acc = np.zeros(nrows, np.float64)
            for d in range(x.shape[1]):
                acc = acc + x[:, d] * y[:, d]
            den = (np.asarray(b.column(4), dtype=np.float64)
                   * np.asarray(b.column(5), dtype=np.float64))
            nz = den != 0.0
            cos = np.where(nz, acc / np.where(nz, den, 1.0), 0.0)
            if p is not None:
                cos = np.floor(cos * p + 0.5) / p
            yield pa.RecordBatch.from_arrays(
                [b.column(0), b.column(1), pa.array(cos, pa.float64())],
                names=names)

    return scored_in.mapInArrow(_kernel, out_schema)


def cosine_topk(corpus: DataFrame, queries: DataFrame, *, id_col: str = "vec_id",
                vec_col: str = "embedding", k: int = 10,
                round_to: int | None = 6, dim: int = DEFAULT_DIM) -> DataFrame:
    """Brute-force top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, cosine, rank), rank 1..k per query,
    self-matches excluded. Deterministic ordering: (cosine desc,
    neighbor_id asc). ``dim`` must match the embedding length (the dot
    product is unrolled at plan-build time).
    """
    # Norms are per-ROW projections computed before the join — evaluating
    # them inside the pair expression would redo the 64-term fold once per
    # PAIR (measured ~2x the probe cost). dot/(qn*cn) associates exactly
    # as before, so results stay bit-identical to the DuckDB oracle.
    q = broadcast(queries.select(F.col(id_col).alias("query_id"),
                                 F.col(vec_col).alias("__qv"),
                                 _norm(F.col(vec_col), dim).alias("__qn")))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("__nv"),
                      _norm(F.col(vec_col), dim).alias("__nn"))
    # r13 NEGATIVE RESULT: the Arrow rerank twin was measured SLOWER here
    # (interleaved A/B, 5 pairs: fold won 5/5 — at |queries|·|corpus| ≈
    # 5k pairs the JVM→Python hop costs more than the fold). The fold
    # stays; _cosine_score_fold documents the pair-count rule.
    scored = _cosine_score_fold(
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qv", "__nv", "__qn", "__nn"),
        round_to=round_to)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def exact_cosine_pairs_blocked(emb: DataFrame, *, id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               block_col: str = "label",
                               threshold: float = 0.4,
                               margin: float = 1e-4,
                               round_to: int = 6,
                               chunk: int | None = None,
                               verify_against: DataFrame | None = None,
                               probe_col: str | None = None
                               ) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold within each block — BLAS filter,
    exact verify.

    The naive plan (self equi-join on the block key, fold per pair) does
    the O(n²/blocks) dot products one interpreted 64-term HOF at a time;
    measured 64× super-linear when the data grows 10× (block sizes grow
    with the corpus). Phase 1 here does the same flops as one numpy
    matmul per block inside ``applyInPandas`` (float64, rows
    unit-normalized, chunked so peak memory is ``chunk × block_rows``
    doubles, not block_rows²) and emits only pairs scoring ≥
    ``threshold − margin``. Phase 2 joins the surviving pairs back to
    the vectors and re-scores them with the same sequential fold +
    half-up rounding as the brute-force plan, so the output is
    bit-identical to the all-pairs join (and its DuckDB oracle): the
    margin only has to cover float summation-order drift (~1e-15) —
    1e-4 means a true pair cannot be dropped and a false candidate
    cannot survive the exact filter.

    Scale: phase 1's flops are inherent to the *exact* contract; what
    this buys is BLAS speed and candidate-only shuffle. Blocks must fit
    one pandas group (~100k × dim floats); beyond that, use the LSH
    path (``lsh_bucketed_topk``) — approximate candidates, same exact
    verify idea.

    ``verify_against``: when ``emb`` holds MULTI-ASSIGNED rows (a
    vector appearing in several blocks — semantic_dedup's
    ``assign_n>1``), pass the one-row-per-id frame here: phase 2 must
    re-score each pair against unique vectors (a duplicate-id join
    would multiply candidate rows), and a pair co-assigned to two
    shared blocks is generated once per block, so the candidate set is
    deduped first (answer-sized — cheap).

    ``probe_col``: name of a BOOLEAN column in ``emb`` marking PROBE
    rows — only pairs with at least one probe endpoint are emitted
    (both-probe pairs once, canonical id_a < id_b). Phase 1 then does
    probe-rows × block-rows flops instead of block-rows², which is the
    delta-curation shape: a nightly batch probes the corpus at cost
    ∝ |delta| × |block|, never corpus². With ``probe_col=None`` (the
    default) behaviour is bit-identical to before.
    """
    import numpy as np
    import pandas as pd

    thr = float(threshold) - float(margin)
    # id-type agnostic (string ids are common in scraped corpora): the
    # output schema mirrors the input id type, and the empty frame is
    # typed to match so Arrow conversion never guesses
    id_type = emb.schema[id_col].dataType.simpleString()
    empty_dtype = "int64" if id_type in ("bigint", "int", "smallint",
                                         "tinyint") else "object"

    def gen(pdf: "pd.DataFrame") -> "pd.DataFrame":
        ids = pdf[id_col].to_numpy()
        m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0  # zero-norm → cosine 0 (excluded by thr>0)
        u = m / norms[:, None]
        out_a, out_b = [], []
        n = u.shape[0]
        if probe_col is None:
            pmask = None
            rows = np.arange(n)
        else:
            pmask = pdf[probe_col].to_numpy(dtype=bool)
            rows = np.nonzero(pmask)[0]
        # bound the Gram slab at ~25M doubles (~200 MB) per task
        step = chunk or max(64, min(4096, 25_000_000 // max(n, 1)))
        for c0 in range(0, len(rows), step):
            sel = rows[c0:c0 + step]
            g = u[sel] @ u.T
            ii, jj = np.nonzero(g >= thr)
            gi = sel[ii]
            if pmask is None:
                keep = gi < jj  # i < j in global row order
            else:
                # probe×non-probe once (from the probe side); probe×probe
                # once via the i < j rule; never a self-pair
                keep = (gi != jj) & (~pmask[jj] | (gi < jj))
            out_a.append(ids[gi[keep]])
            out_b.append(ids[jj[keep]])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": []}, dtype=empty_dtype)
        a = np.concatenate(out_a)
        b = np.concatenate(out_b)
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    cands = emb.groupBy(block_col).applyInPandas(
        gen, f"id_a {id_type}, id_b {id_type}")
    base = emb
    if verify_against is not None:
        cands = cands.distinct()
        base = verify_against
    a = base.select(F.col(id_col).alias("id_a"),
                    F.col(vec_col).alias("__a"),
                    _norm(F.col(vec_col)).alias("__an"))
    b = base.select(F.col(id_col).alias("id_b"),
                    F.col(vec_col).alias("__b"),
                    _norm(F.col(vec_col)).alias("__bn"))
    # r13: exact verify fold runs in _cosine_rerank_arrow — identical
    # per-pair operation order, vectorized across pairs (see docstring)
    return _cosine_rerank_arrow(
        cands.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", "__a", "__b", "__an", "__bn"),
        round_to=round_to,
    ).filter(F.col("cosine") >= threshold)


def _lsh_planes(spark, *, num_planes: int = 16, dim: int = 64) -> list:
    """Hyperplane weights h_p[i] = (xxhash64(p*dim + i) mod 2001 - 1000)/1000
    — deterministic pseudo-random planes. Evaluated ONCE per session by the
    JVM (one tiny job) and folded into the signature expression as literals:
    leaving xxhash64 inside the per-row lambda re-hashes num_planes×dim
    times per ROW (46 M hash evals over a 60 k corpus — measured as the
    dominant LSH cost). Same formula, same doubles, identical signatures.
    """
    def build():
        # xxhash64 of the INT index — matches the int arithmetic
        # (sequence elements) the in-row expression used
        rows = (spark.range(num_planes * dim)
                .select(((F.pmod(F.xxhash64(F.col("id").cast("int")),
                                 F.lit(2001)).cast("double")
                          - F.lit(1000.0)) / F.lit(1000.0)).alias("w"))
                .collect())
        ws = [r["w"] for r in rows]
        return [ws[p * dim:(p + 1) * dim] for p in range(num_planes)]
    return get_or_build(spark, "lsh_planes", (num_planes, dim), build)


def lsh_signature(vec_col, *, num_planes: int = 16, dim: int = 64,
                  planes: list | None = None):
    """Random-hyperplane signature: bit p = sign(v · h_p), planes from
    ``_lsh_planes`` (constant literals — no per-row hashing; pass ``planes``
    when a session is at hand to reuse the cache). Column-expression
    variant for SQL-side use/debugging. CAVEAT: the per-plane dot is a
    sequential left fold, while the bucketed path's vectorized quantizer
    (``_lsh_signature_udf``) sums via BLAS — for a vector whose margin on
    some plane is within float summation-order drift (~1e-16) the sign
    bit can differ between the two; don't mix their buckets.
    """
    v = vec_col if not isinstance(vec_col, str) else F.col(vec_col)
    if planes is None:
        from pyspark.sql import SparkSession
        planes = _lsh_planes(SparkSession.active(),
                             num_planes=num_planes, dim=dim)
    sig = None
    for p, plane in enumerate(planes):
        w = F.array(*[F.lit(float(x)) for x in plane])
        dot_p = F.aggregate(
            F.zip_with(v, w, lambda x, y: x.cast("double") * y),
            F.lit(0.0), lambda s, t: s + t)
        term = F.shiftleft((dot_p > F.lit(0.0)).cast("bigint"), p)
        sig = term if sig is None else sig + term
    return sig


def _lsh_signature_udf(planes: list):
    """Vectorized signature: one Arrow batch → one numpy matmul
    (n×dim @ dim×P) → sign bits packed to int64. This is the scale path:
    the column-expression fold is interpreted per row (measured ~0.5 ms/row
    — 8 HOF evaluations each allocating a zipped array), while the matmul
    amortizes to microseconds/row and is exactly how a production ANN
    quantizer computes signatures. Per-row output depends only on the row
    → deterministic under any partitioning.
    """
    import numpy as np
    import pandas as pd

    W = np.asarray(planes, dtype=np.float64).T          # dim × P
    pows = (np.int64(1) << np.arange(len(planes), dtype=np.int64))

    def sig(s):
        M = np.vstack(s.to_numpy()).astype(np.float64)  # n × dim
        return pd.Series((M @ W > 0.0) @ pows)

    sig.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(sig, "bigint")


def _lsh_probe_udf(planes: list, width: int, num_bands: int, multiprobe: int):
    """Query-side multiprobe expansion: per band, the exact bucket PLUS
    ``multiprobe`` alternates with the weakest bit flipped (ascending
    |v·h_p| margin — the bits most likely to differ for a true neighbor
    that just missed the bucket). Standard multiprobe LSH: recall rises
    as if B·(1+multiprobe) bands were used, but the CORPUS side still
    explodes to only B rows — zero extra shuffle on the big side.
    """
    import numpy as np
    import pandas as pd

    W = np.asarray(planes, dtype=np.float64).T          # dim × P
    P = W.shape[1]
    pows = (np.int64(1) << np.arange(P, dtype=np.int64))
    mask = (1 << width) - 1

    def probes(s):
        M = np.vstack(s.to_numpy()).astype(np.float64)  # n × dim
        D = M @ W                                       # n × P margins
        sig = (D > 0.0) @ pows
        out = []
        for r in range(M.shape[0]):
            row = []
            for b in range(num_bands):
                bits = int((sig[r] >> (b * width)) & mask)
                row.append({"band": b, "bits": bits})
                margins = np.abs(D[r, b * width:(b + 1) * width])
                for j in np.argsort(margins, kind="stable")[:multiprobe]:
                    row.append({"band": b, "bits": bits ^ (1 << int(j))})
            out.append(row)
        return pd.Series(out)

    probes.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(probes, "array<struct<band:int,bits:bigint>>")


def lsh_bucketed_topk(corpus: DataFrame, queries: DataFrame, *,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      k: int = 10, num_planes: int = 16,
                      num_bands: int = 4, dim: int = 64,
                      multiprobe: int = 0,
                      round_to: int | None = None) -> DataFrame:
    """Banded (OR-amplified) hyperplane LSH: the ``num_planes``-bit
    signature is split into ``num_bands`` bands of ``num_planes/num_bands``
    bits; candidates share ANY band (a single equi-join on
    (band_id, band_bits) after posexplode), then exact cosine rank.

    A single full-signature bucket has collision probability
    (1 - θ/π)^num_planes — near zero for ordinary neighbors (measured 0.0
    recall@5). Banding is the standard LSH amplification: per-band
    p = (1-θ/π)^w, any-band 1-(1-p)^B. Tune w to corpus size (more bits
    → smaller buckets, fewer candidates) and B to recall.

    Scale shape: candidate generation stays a linear-shuffle equi-join
    (corpus explodes to num_bands rows each), and the exploded frames
    carry ONLY (id, band, bits) — the id pairs are ``distinct()``-deduped
    BEFORE the vectors are joined back (late rejoin, the same pattern as
    ``jaccard_pairs``), so neither the band explosion nor the multi-band
    collision duplicates ever ship embedding bytes. Signatures come from
    the vectorized quantizer (`_lsh_signature_udf`); the re-rank keeps the
    JVM fold so cosine stays bit-identical to the brute-force oracle path.
    """
    if num_planes % num_bands:
        raise ValueError(
            f"num_bands ({num_bands}) must divide num_planes "
            f"({num_planes}) evenly")
    width = num_planes // num_bands
    planes = _lsh_planes(corpus.sparkSession, num_planes=num_planes, dim=dim)
    sig = _lsh_signature_udf(planes)(F.col(vec_col) if isinstance(vec_col, str)
                                     else vec_col)
    mask = (1 << width) - 1

    def banded(df, id_alias):
        return df.select(
            F.col(id_col).alias(id_alias), sig.alias("__sig"),
        ).select(
            id_alias,
            F.posexplode(F.array(*[
                F.shiftright(F.col("__sig"), b * width)
                 .bitwiseAND(F.lit(mask))
                for b in range(num_bands)])).alias("__band", "__bits"),
        )

    if multiprobe:
        pudf = _lsh_probe_udf(planes, width, num_bands, multiprobe)
        vc = F.col(vec_col) if isinstance(vec_col, str) else vec_col
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.explode(pudf(vc)).alias("__p"),
        ).select(
            "query_id",
            F.col("__p.band").alias("__band"),
            F.col("__p.bits").alias("__bits"),
        )
    else:
        q = banded(queries, "query_id")
    c = banded(corpus, "neighbor_id")
    # id pairs first, vectors later: dedup multi-band collisions on
    # (query, neighbor) BEFORE any embedding bytes move
    pairs = (
        q.join(c, ["__band", "__bits"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    vc = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    qv = queries.select(F.col(id_col).alias("query_id"),
                        vc.alias("__qv"), _norm(vc, dim).alias("__qn"))
    cv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       vc.alias("__nv"), _norm(vc, dim).alias("__nn"))
    # no broadcast hint: the query side is usually tiny (AQE broadcasts
    # it), but the API does not bound it — let the optimizer decide.
    # r13: the per-pair 64-term interpreted JVM fold was the row's
    # dominant CPU (the candidate set is |queries|·|corpus| in the
    # exactness-twin config); _cosine_rerank_arrow computes the same
    # fold order vectorized across pairs — bit-identical by construction
    # (see its docstring), ~1 MB/1k-pairs through the Arrow boundary.
    scored = _cosine_rerank_arrow(
        pairs.join(qv, "query_id").join(cv, "neighbor_id")
             .select("query_id", "neighbor_id",
                     "__qv", "__nv", "__qn", "__nn"),
        round_to=round_to)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the other scale path from the north star.
# Coarse quantizer = MLlib KMeans (deterministic seed); each vector is
# assigned to its nearest centroid's list; a query probes only the
# ``nprobe`` nearest lists, then ranks candidates by exact cosine.
#
# Build/query are SPLIT: the KMeans fit + corpus-wide assignment happen
# once (``ivf_build``, optionally persisted to disk partitioned by list id
# so probes prune partitions), and ``ivf_query`` only probes — the index
# must never be refit in the query path.
#
# Scale shape: centroid assignment is one KMeans transform (JVM); the
# probe join is an equi-join on list id — candidates ≈ corpus·nprobe/nlist
# instead of the full corpus. The centroid table is tiny and broadcast;
# with an on-disk index, partition pruning means a probe reads only
# nprobe/nlist of the corpus bytes.
# ---------------------------------------------------------------------------


class IvfIndex:
    """A built IVF index: per-vector list assignment + centroid table.

    ``assigned``: (id_col, vec_col, __list, __vnorm) — cached or
    disk-backed; ``__vnorm`` is the precomputed L2 norm.
    ``centroids``: (list_id, centroid array<double>) — tiny, broadcast at
    query time.
    """

    def __init__(self, assigned: DataFrame, centroids: DataFrame, *,
                 id_col: str, vec_col: str, nlist: int,
                 release_handles: list | None = None):
        self.assigned = assigned
        self.centroids = centroids
        self.id_col = id_col
        self.vec_col = vec_col
        self.nlist = nlist
        # the frames whose storage unpersist() releases — normally just
        # `assigned`, but an ivf_add-extended index's assigned is a
        # union PLAN over the base artifact: the base handle must ride
        # along or release becomes a silent no-op leak
        self._release_handles = (release_handles if release_handles
                                 is not None else [assigned])

    def unpersist(self):
        """Release the index's storage: deletes the materialized
        artifact dir for ``cache=True`` indexes (unpersist() cannot free
        a parquet artifact), block-manager unpersist otherwise; an
        extended index (ivf_add) releases its base's storage."""
        from dexscraper_spark.persist import release_artifact
        for df in self._release_handles:
            if not release_artifact(df):
                df.unpersist()


def ivf_build(corpus: DataFrame, *, id_col: str = "vec_id",
              vec_col: str = "embedding", nlist: int = 16,
              seed: int = 42, cache: bool = True) -> IvfIndex:
    """Fit the coarse quantizer once and assign every vector to a list.

    ``cache=True`` materializes the assignment as a parquet artifact so
    repeated queries scan a one-node plan instead of recomputing (or
    even re-analyzing) the KMeans transform; ``IvfIndex.unpersist()``
    releases it deterministically.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.withColumn(
        "__vec", array_to_vector(F.col(vec_col).cast("array<double>")))
    model = KMeans(k=nlist, seed=seed, featuresCol="__vec",
                   predictionCol="__list").fit(feats)
    # store each vector's L2 norm in the index — queries then evaluate one
    # fold per candidate pair (the dot) instead of three
    assigned = model.transform(feats).drop("__vec") \
        .select(id_col, vec_col, "__list",
                _norm(F.col(vec_col)).alias("__vnorm"))
    if cache:
        # materialized artifact, not persist: the KMeans-transform
        # lineage is deep, and every probe against a plain cached index
        # re-analyzes it (~0.4 s/driver round measured at sf0.1). The
        # parquet artifact scans as a one-node plan and releases
        # deterministically (IvfIndex.unpersist / persist.refresh).
        from dexscraper_spark.persist import materialize_artifact
        assigned = materialize_artifact(assigned, "ivf")
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "list_id int, centroid array<double>")
    return IvfIndex(assigned, centroids, id_col=id_col, vec_col=vec_col,
                    nlist=nlist)


def ivf_build_deterministic(corpus: DataFrame, *, id_col: str = "vec_id",
                            vec_col: str = "embedding", nlist: int = 16,
                            seed: int = 42, sample_n: int = 20_000,
                            cache: bool = True) -> IvfIndex:
    """LAYOUT-INDEPENDENT IVF build: centroids fit with the driver-side
    Lloyd kernel over a deterministic hash-ordered bounded sample (the
    :func:`~dexscraper_spark.operators.quantize.pq_train` discipline),
    assignment via :func:`_ivf_assign`'s exact nearest-centroid rule.

    :func:`ivf_build` (MLlib KMeans) is layout-DEPENDENT: k-means||
    init draws its seeding per partition, so a repartition changes the
    fitted centroids and therefore the index. That is fine for a
    one-shot cached index, but anything whose OUTPUT must be
    reproducible across layouts — :func:`~dexscraper_spark.operators.
    dedup.semantic_dedup`'s survivor set, a nightly republished
    artifact compared against yesterday's — needs this build. Cost: one
    bounded sample collect (≤ sample_n × dim doubles, corpus-size
    independent) + |corpus| × nlist broadcast compares for assignment.
    """
    import numpy as np

    from dexscraper_spark.operators.quantize import _lloyd

    sample = (corpus
              .select(F.col(vec_col).cast("array<double>").alias("v"))
              .filter(F.size("v") > 0)
              .orderBy(F.xxhash64(F.col("v").cast("array<float>")))
              .limit(sample_n).collect())
    if not sample:
        raise ValueError("empty training sample")
    mat = np.array([r.v for r in sample], dtype=np.float64)
    centers = _lloyd(mat, nlist, seed)
    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "list_id int, centroid array<double>")
    shell = IvfIndex(corpus.limit(0), centroids, id_col=id_col,
                     vec_col=vec_col, nlist=nlist, release_handles=[])
    assigned = _ivf_assign(shell, corpus)
    if cache:
        from dexscraper_spark.persist import materialize_artifact
        assigned = materialize_artifact(assigned, "ivfdet")
    return IvfIndex(assigned, centroids, id_col=id_col, vec_col=vec_col,
                    nlist=nlist)


def ivf_save(index: IvfIndex, path: str) -> None:
    """Persist the index: assignment parquet partitioned by list id (probe
    joins prune to nprobe/nlist of the files), centroid table alongside."""
    index.assigned.write.mode("overwrite") \
        .partitionBy("__list").parquet(f"{path}/assigned")
    index.centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_load(spark, path: str, *, id_col: str = "vec_id",
             vec_col: str = "embedding") -> IvfIndex:
    assigned = spark.read.parquet(f"{path}/assigned")
    centroids = spark.read.parquet(f"{path}/centroids")
    nlist = centroids.count()
    return IvfIndex(assigned, centroids, id_col=id_col, vec_col=vec_col,
                    nlist=nlist)


def _ivf_assign(index: IvfIndex, new_vectors: DataFrame, *,
                n: int = 1) -> DataFrame:
    """Assign new vectors to the index's existing coarse centroids —
    nearest squared-L2 centroid, ties to the lowest list id (KMeans
    transform's own rule, parity-pinned by test). Returns rows in the
    ``assigned`` schema. Cost: |delta| × nlist broadcast compares.

    ``n > 1`` = MULTI-ASSIGNMENT: one row per (vector, list) for the
    vector's n nearest lists — the recall knob for consumers where a
    boundary-straddling pair must share at least one block
    (semantic_dedup's ``assign_n``). Never feed n>1 rows into an index
    artifact; the IVF contract is one list per vector."""
    v = F.col(index.vec_col)
    # EXACT element-wise Σ(x−y)² — not the ‖v‖²+‖c‖²−2·v·c norm
    # identity: for a vector nearly equidistant to two centroids the
    # identity cancels catastrophically (d² ≪ ‖·‖²) and can flip the
    # argmin, while MLlib's own fastSquaredDistance falls back to exact
    # sqdist in precisely that regime — exact matches it everywhere
    d2 = F.aggregate(
        F.zip_with(v, F.col("centroid"),
                   lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, x: acc + x)
    w = Window.partitionBy(index.id_col).orderBy(
        F.col("__d2").asc(), F.col("list_id").asc())
    return (
        new_vectors.select(index.id_col, index.vec_col)
        .withColumn("__vnorm", _norm(v))
        .crossJoin(broadcast(index.centroids))
        .withColumn("__d2", d2)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n)
        .select(index.id_col, index.vec_col,
                F.col("list_id").alias("__list"), "__vnorm")
    )


def ivf_add(index: IvfIndex, new_vectors: DataFrame) -> IvfIndex:
    """Extend an IVF index with a batch of new vectors WITHOUT refitting
    the coarse quantizer: assign each to its nearest existing centroid
    and append — the nightly maintenance op of an embedding pipeline.

    Cost ∝ |delta| × nlist (broadcast centroid compare) plus a
    delta-sized append; the existing assignment is never recomputed or
    rewritten. The quantizer is immutable by design — per-batch refit
    would invalidate every stored assignment; centroid drift under
    distribution shift is a periodic RETRAIN decision (rebuild via
    :func:`ivf_build`), not a per-batch one — standard IVF practice.
    Assignment parity with the original KMeans transform is pinned by
    test (drop-and-re-add reproduces the build's own lists bit-for-bit).
    """
    return IvfIndex(
        index.assigned.unionByName(_ivf_assign(index, new_vectors)),
        index.centroids, id_col=index.id_col, vec_col=index.vec_col,
        nlist=index.nlist, release_handles=index._release_handles)


def ivf_extend_saved(spark, path: str, new_vectors: DataFrame, *,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     skip_existing: bool = True) -> IvfIndex:
    """Fold a vector batch into an on-disk index (:func:`ivf_save`
    layout): assign against the stored centroids and APPEND the new
    rows into the list-partitioned assignment table — existing parquet
    files are never read back or rewritten (delta-sized write; probes
    keep pruning partitions). Returns the reloaded extended index.

    ``skip_existing`` (default) anti-joins the batch against the stored
    ids first, making a RETRIED nightly append idempotent — the append
    itself is not atomic, so a rerun after a success (or after a crash
    that landed part of the batch) would otherwise duplicate vectors
    and corrupt top-k ranks. Costs one column-pruned id scan of the
    index; orchestrators with their own write-audit-publish dance can
    turn it off."""
    index = ivf_load(spark, path, id_col=id_col, vec_col=vec_col)
    if skip_existing:
        new_vectors = new_vectors.join(
            index.assigned.select(id_col), id_col, "left_anti")
    _ivf_assign(index, new_vectors).write.mode("append") \
        .partitionBy("__list").parquet(f"{path}/assigned")
    return ivf_load(spark, path, id_col=id_col, vec_col=vec_col)


def ivf_query(index: IvfIndex, queries: DataFrame, *, k: int = 10,
              nprobe: int = 4, round_to: int | None = 6) -> DataFrame:
    """Probe the nprobe nearest lists per query, exact-rank candidates.
    Recall < 1 by design (bounded by nprobe/nlist). No model fit here —
    only the equi-join on list id against the prebuilt index."""
    q = queries.select(F.col(index.id_col).alias("query_id"),
                       F.col(index.vec_col).alias("__qv"),
                       _norm(F.col(index.vec_col)).alias("__qn"))
    # rank centroids per query by cosine, keep nprobe lists
    c_cos = _safe_div(_dot(F.col("__qv"), F.col("centroid")),
                      F.col("__qn") * _norm(F.col("centroid")))
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__ccos").desc(), F.col("list_id").asc())
    probes = (
        q.crossJoin(broadcast(index.centroids))
        .withColumn("__ccos", c_cos)
        .withColumn("__pr", F.row_number().over(w_probe))
        .filter(F.col("__pr") <= nprobe)
        .select("query_id", "__qv", "__qn", F.col("list_id").alias("__list"))
    )
    # broadcast the PROBES (|queries|·nprobe rows — tiny by contract),
    # not the index side: unhinted, the planner broadcast the
    # corpus-sized artifact scan (r13 plan audit, VERDICT #8), which
    # caps at the broadcast limit long before a 100 TB corpus does. With
    # the probe side broadcast the assignment table streams unshuffled
    # at any scale (guide §3.1: broadcast the side that fits — and only
    # the query side is *guaranteed* to fit).
    cand = broadcast(probes).join(
        index.assigned.select(F.col(index.id_col).alias("neighbor_id"),
                              F.col(index.vec_col).alias("__nv"),
                              F.col("__vnorm").alias("__nn"), "__list"),
        "__list")
    # norms come precomputed from each side (index.__vnorm, probe.__qn):
    # one fold per pair, same dot/(qn*cn) association → bit-identical.
    # r13 NEGATIVE RESULT: the Arrow rerank twin measured SLOWER here
    # (interleaved A/B, fold won 4/5 pairs — candidates ≈ corpus·nprobe/
    # nlist is ~5k pairs at bench scale, under the kernel's break-even;
    # see _cosine_score_fold). The fold stays.
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        _cosine_score_fold(
            cand.filter(F.col("query_id") != F.col("neighbor_id"))
                .select("query_id", "neighbor_id",
                        "__qv", "__nv", "__qn", "__nn"),
            round_to=round_to)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(corpus: DataFrame, queries: DataFrame, *, id_col: str = "vec_id",
             vec_col: str = "embedding", k: int = 10, nlist: int = 16,
             nprobe: int = 4, seed: int = 42,
             round_to: int | None = 6) -> DataFrame:
    """One-shot convenience: build (uncached) + query. For any repeated
    use, call ``ivf_build`` once and ``ivf_query`` per query instead."""
    index = ivf_build(corpus, id_col=id_col, vec_col=vec_col, nlist=nlist,
                      seed=seed, cache=False)
    return ivf_query(index, queries, k=k, nprobe=nprobe, round_to=round_to)
