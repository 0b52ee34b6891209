"""Product quantization — compressed vector search for the 100 TB corpus.

Public algorithm: Jégou, Douze & Schmid, "Product Quantization for
Nearest Neighbor Search" (TPAMI 2011) — the same family FAISS builds on.
The reference engine has no vector compression (reference stores raw
rows; see models.py's plain float fields); this module is part of the
training-data extension family, where it is the piece that makes ANN
affordable when the raw vectors no longer fit the scan budget:

* ``pq_train``   — fit m sub-quantizer codebooks (k-means per subspace)
  on a BOUNDED deterministic sample. Training cost is independent of
  corpus size (the FAISS discipline: codebooks are trained on a sample,
  never the full corpus).
* ``pq_encode``  — compress each vector to m bytes (one centroid id per
  subspace). 64-dim float32 → 8 bytes is a 32× scan-size reduction;
  the codes table is what the 100 TB scan actually reads.
* ``pq_topk``    — asymmetric distance computation (ADC): per query,
  one (m × ksub) lookup table of exact query-to-centroid distances;
  each candidate's approximate distance is m table lookups. Runs as a
  ``mapInPandas`` over code partitions — per-partition output is
  ≤ queries × k rows, the codes never leave the executors.
* ``pq_topk_refined`` — the production shape: ADC retrieves an
  expanded candidate set from the compressed scan, then an equi-join
  back to the raw vectors re-ranks exactly — full-precision reads touch
  only queries × k × expand rows.

Cosine semantics: vectors are L2-normalized before training/encoding
(``normalize=True`` default), making squared-L2 order equal to cosine
order (‖a−b‖² = 2 − 2·cos on unit vectors); outputs report cosine to
match the other similarity operators' contract.

Scale shape: the only full-corpus pass is the ADC scan over m-byte
codes (linear, no shuffle); top-k reduction shuffles ≤ partitions ×
queries × k candidate rows; the refine join is broadcast-able (its left
side is the tiny candidate set). Codebooks are a few KiB and ride to
executors inside the UDF closure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from dexscraper_spark.operators.similarity import _dot, _norm, _safe_div


class PqCodebooks:
    """Driver-side codebooks: numpy (m, ksub, dsub) float64, plus the
    training config needed to encode/query consistently."""

    def __init__(self, centers, *, dim: int, m: int, ksub: int,
                 normalize: bool):
        self.centers = centers
        self.dim = dim
        self.m = m
        self.ksub = ksub
        self.dsub = dim // m
        self.normalize = normalize

    def as_rows(self):
        """Flatten for persistence: (subspace, centroid_id, center)."""
        return [(j, c, [float(x) for x in self.centers[j, c]])
                for j in range(self.m) for c in range(self.ksub)]


def _normalize_rows(mat):
    import numpy as np
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0  # zero vectors stay zero (cosine 0 rule)
    return mat / norms


def _lloyd(points, ksub: int, seed: int, iters: int = 25):
    """Deterministic Lloyd's k-means over one subspace (numpy, driver
    side, bounded-sample input). Seeded uniform-random init; empty
    clusters re-seeded to DISTINCT farthest points each iteration.

    Assignment uses the ‖c‖²−2x·c identity — an (n, ksub) temp, never
    the (n, ksub, dsub) difference tensor (at sample_n=100k, ksub=256,
    dsub=32 that tensor is ~6.5 GB/iteration). A near-equidistant
    argmin flip from the identity's cancellation is harmless here
    (either assignment is a valid Lloyd step), unlike _ivf_assign
    where parity with MLlib is pinned."""
    import numpy as np
    rng = np.random.default_rng(seed)
    n = len(points)
    k = min(ksub, n)
    centers = points[rng.choice(n, size=k, replace=False)].copy()
    if k < ksub:  # degenerate tiny sample: pad with repeats
        centers = np.concatenate(
            [centers, centers[rng.integers(0, k, size=ksub - k)]])
    psq = (points * points).sum(axis=1)
    for _ in range(iters):
        d = -2.0 * points @ centers.T + (centers * centers).sum(axis=1)
        assign = d.argmin(axis=1)
        empty = [c for c in range(ksub) if not (assign == c).any()]
        if empty:
            # rank points by distance to their assigned center, desc;
            # hand each empty cluster its OWN farthest point (same
            # point for all duplicates would leave ksub-|empty|+1
            # effective centroids forever)
            far = np.argsort(-(d.min(axis=1) + psq))
            for i, c in enumerate(empty):
                centers[c] = points[far[i % n]]
        for c in range(ksub):
            mask = assign == c
            if mask.any():
                centers[c] = points[mask].mean(axis=0)
    return centers


def pq_train(corpus: DataFrame, *, vec_col: str = "embedding",
             dim: int = 64, m: int = 16, ksub: int = 64,
             sample_n: int = 20_000, seed: int = 42,
             normalize: bool = True) -> PqCodebooks:
    """Fit the m sub-quantizer codebooks on a deterministic bounded
    sample (xxhash64 order over the vector bytes — layout-independent,
    same discipline as operators/sampling.py). Driver-side k-means over
    ≤ sample_n × dim doubles; cost is corpus-size independent."""
    import numpy as np

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if ksub > 256:
        raise ValueError(f"ksub {ksub} exceeds one byte per code")
    sample = (corpus
              .select(F.col(vec_col).cast("array<double>").alias("v"))
              .filter(F.size("v") == dim)
              .orderBy(F.xxhash64(F.col("v").cast("array<float>")))
              .limit(sample_n).collect())
    if not sample:
        raise ValueError("empty training sample")
    mat = np.array([r.v for r in sample], dtype=np.float64)
    if normalize:
        mat = _normalize_rows(mat)
    dsub = dim // m
    centers = np.stack([
        _lloyd(np.ascontiguousarray(mat[:, j * dsub:(j + 1) * dsub]),
               ksub, seed + j)
        for j in range(m)])
    return PqCodebooks(centers, dim=dim, m=m, ksub=ksub,
                       normalize=normalize)


def pq_save(spark, books: PqCodebooks, path: str) -> None:
    rows = books.as_rows()
    df = spark.createDataFrame(
        rows, "subspace int, centroid_id int, center array<double>")
    (df.withColumn("dim", F.lit(books.dim))
       .withColumn("normalize", F.lit(books.normalize))
       .write.mode("overwrite").parquet(path))


def pq_load(spark, path: str) -> PqCodebooks:
    """Load and VALIDATE a stored codebook: every (subspace,
    centroid_id) cell must be present exactly once — a partially
    written or stale directory would otherwise load with all-zero
    centroids that silently win argmin for small subvectors and
    corrupt every code downstream."""
    import numpy as np
    rows = spark.read.parquet(path).collect()
    if not rows:
        raise ValueError(f"no codebook rows at {path}")
    m = max(r.subspace for r in rows) + 1
    ksub = max(r.centroid_id for r in rows) + 1
    dim = rows[0].dim
    normalize = rows[0].normalize
    cells = {(r.subspace, r.centroid_id) for r in rows}
    if not (0 < ksub <= 256 and dim % m == 0):
        raise ValueError(f"inconsistent codebook meta: dim={dim} "
                         f"m={m} ksub={ksub}")
    if len(rows) != m * ksub or len(cells) != m * ksub:
        raise ValueError(
            f"codebook at {path} is incomplete or duplicated: "
            f"{len(rows)} rows / {len(cells)} distinct cells, "
            f"expected {m * ksub}")
    dsub = dim // m
    centers = np.zeros((m, ksub, dsub))
    for r in rows:
        if len(r.center) != dsub:
            raise ValueError(f"centroid ({r.subspace},{r.centroid_id}) "
                             f"has {len(r.center)} dims, expected {dsub}")
        centers[r.subspace, r.centroid_id] = r.center
    return PqCodebooks(centers, dim=dim, m=m, ksub=ksub,
                       normalize=normalize)


def pq_encode(df: DataFrame, books: PqCodebooks, *,
              id_col: str = "vec_id", vec_col: str = "embedding",
              skip_bad: bool = False,
              keep_cols: list[str] | None = None) -> DataFrame:
    """Compress vectors: (id, code binary) with len(code) == m bytes.
    Row-local (no shuffle); the codebooks travel in the UDF closure
    (a few KiB).

    Malformed rows (NULL or wrong-length vectors): ``skip_bad=False``
    raises — silent truncation would corrupt every downstream
    distance; ``skip_bad=True`` emits NULL codes for them instead, the
    scraped-corpus mode where one bad row must not kill the encode job
    (filter ``code IS NOT NULL`` downstream; pq_topk ignores NULLs).
    Note ``pq_train`` samples only well-formed vectors either way —
    training is robust to bad rows, encoding is where the choice lands.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    centers = books.centers  # (m, ksub, dsub)
    dim, m, dsub, norm = books.dim, books.m, books.dsub, books.normalize

    def _encode_fn(s):
        import numpy as np
        import pandas as pd
        if s.empty:
            return pd.Series([], dtype=object)
        good = s.apply(lambda v: v is not None and len(v) == dim)
        if not good.all():
            if not skip_bad:
                bad = s[~good].index[0]
                v = s[~good].iloc[0]
                raise ValueError(
                    f"expected {dim}-dim vectors, got "
                    f"{'NULL' if v is None else f'{len(v)}-dim'} at "
                    f"batch index {bad} (skip_bad=True to NULL them)")
            out = pd.Series([None] * len(s), index=s.index, dtype=object)
            if good.any():
                out[good] = _encode_fn(s[good]).values
            return out
        mat = np.array(s.tolist(), dtype=np.float64)
        if norm:
            mat = _normalize_rows(mat)
        codes = np.empty((len(mat), m), dtype=np.uint8)
        for j in range(m):
            sub = mat[:, j * dsub:(j + 1) * dsub]          # (n, dsub)
            cb = centers[j]                                 # (ksub, dsub)
            # ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖²; ‖x‖² constant per row →
            # argmin over (−2x·c + ‖c‖²). Ties: argmin → lowest id.
            d = -2.0 * sub @ cb.T + (cb * cb).sum(axis=1)[None, :]
            codes[:, j] = d.argmin(axis=1)
        return pd.Series([c.tobytes() for c in codes])

    encode = pandas_udf(_encode_fn, BinaryType())
    return df.select(id_col, *(keep_cols or []),
                     encode(F.col(vec_col)).alias("code"))


def _adc_scan_fn(books: PqCodebooks, queries: list, k: int):
    """Per-partition ADC: returns each partition's top-k candidates per
    query — (query_id, neighbor_id, adc). The LUTs (m × ksub exact
    subdistances per query) are built ONCE on the driver and ship to
    every task inside this closure — they scale with query count
    (queries × m × ksub × 8 bytes), so the driver-memory/task-size
    budget, not executor compute, bounds the query set."""
    import numpy as np

    centers = books.centers
    m, dsub, norm = books.m, books.dsub, books.normalize
    qids = [q[0] for q in queries]
    qmat = np.array([q[1] for q in queries], dtype=np.float64)
    if norm and len(qmat):
        qmat = _normalize_rows(qmat)
    # luts[i] has shape (m, ksub): exact ‖q_sub − c‖² per subspace
    luts = np.stack([
        np.stack([(((centers[j] - qmat[i, j * dsub:(j + 1) * dsub]) ** 2)
                   .sum(axis=1)) for j in range(m)])
        for i in range(len(qmat))]) if len(qmat) else None

    def scan(batches):
        import pandas as pd
        best: dict = {qid: [] for qid in qids}  # qid -> (adc, nid) rows
        for pdf in batches:
            if pdf.empty or luts is None:
                continue
            codes = np.frombuffer(
                b"".join(pdf["code"]), dtype=np.uint8).reshape(-1, m)
            ids = pdf.iloc[:, 0].to_numpy()
            ar = np.arange(m)
            for i, qid in enumerate(qids):
                d = luts[i][ar[None, :], codes].sum(axis=1)
                take = min(k, len(d))
                # lexicographic (adc, id) selection — argpartition on
                # adc alone breaks EXACT ties (duplicate vectors →
                # identical codes → bit-identical adc) by row order,
                # making results partition-dependent
                part = np.lexsort((ids, d))[:take]
                best[qid].extend(zip(d[part].tolist(),
                                     ids[part].tolist()))
                best[qid] = sorted(best[qid])[:k]
        rows = [(qid, nid, adc)
                for qid, cand in best.items() for adc, nid in cand]
        if rows:
            yield pd.DataFrame(rows,
                               columns=["query_id", "neighbor_id", "adc"])
    return scan


def pq_topk(codes: DataFrame, queries: DataFrame, books: PqCodebooks, *,
            id_col: str = "vec_id", vec_col: str = "embedding",
            k: int = 10) -> DataFrame:
    """ADC top-k over the compressed corpus: (query_id, neighbor_id,
    adc, rank), ascending approximate squared-L2. The full-corpus work
    is the in-partition LUT scan; the only shuffle carries ≤ partitions
    × queries × k rows. Queries are collected driver-side (the query
    set is small by contract — same stance as lsh_bucketed_topk's
    broadcast side)."""
    qrows = [(r[0], list(r[1])) for r in
             queries.select(id_col, vec_col).collect()]
    id_field = codes.schema[id_col]
    # scan keeps k+1 per partition: the query's own vector (adc ≈ 0)
    # would otherwise occupy one of the k slots before the self-filter.
    # NULL codes (pq_encode skip_bad survivors) are unsearchable — drop.
    part = codes.filter(F.col("code").isNotNull()) \
        .select(id_col, "code").mapInPandas(
        _adc_scan_fn(books, qrows, k + 1),
        schema=(f"query_id {id_field.dataType.simpleString()}, "
                f"neighbor_id {id_field.dataType.simpleString()}, "
                "adc double"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc())
    return (part.filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _exact_rerank(corpus: DataFrame, cand: DataFrame,
                  queries: DataFrame, *, id_col: str, vec_col: str,
                  k: int, round_to: int | None) -> DataFrame:
    """Re-rank a (query_id, neighbor_id) candidate set by exact cosine
    against the raw vectors — full-precision reads touch only the
    candidate rows (broadcast equi-join both sides: candidates and
    queries are tiny by construction). Output matches ivf_query's
    contract: (query_id, neighbor_id, cosine, rank)."""
    vecs = corpus.select(F.col(id_col).alias("neighbor_id"),
                         F.col(vec_col).alias("__cv"),
                         _norm(F.col(vec_col)).alias("__cn"))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qv"),
                       _norm(F.col(vec_col)).alias("__qn"))
    cos = _safe_div(_dot(F.col("__qv"), F.col("__cv")),
                    F.col("__qn") * F.col("__cn"))
    if round_to is not None:
        p = float(10 ** round_to)
        cos = F.floor(cos * p + F.lit(0.5)) / p
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (broadcast(cand)
            .join(vecs, "neighbor_id")
            .join(broadcast(q), "query_id")
            .select("query_id", "neighbor_id", cos.alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def pq_topk_refined(corpus: DataFrame, codes: DataFrame,
                    queries: DataFrame, books: PqCodebooks, *,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    k: int = 10, expand: int = 4,
                    round_to: int | None = 6) -> DataFrame:
    """Compressed retrieve + exact re-rank: ADC fetches k × expand
    candidates per query from the codes scan, then the raw vectors are
    read ONLY for those candidates and re-ranked by exact cosine."""
    cand = pq_topk(codes, queries, books, id_col=id_col,
                   vec_col=vec_col, k=k * expand).select(
        "query_id", "neighbor_id")
    return _exact_rerank(corpus, cand, queries, id_col=id_col,
                         vec_col=vec_col, k=k, round_to=round_to)


# ---------------------------------------------------------------------------
# IVF-PQ — the composed billion-scale shape (FAISS's IndexIVFPQ, public
# design): the coarse quantizer (operators/similarity.IvfIndex) prunes the
# scan to nprobe/nlist of the corpus; within probed lists the ADC scan
# reads m-byte codes instead of raw vectors; an exact re-rank touches only
# the final candidates. At 100 TB: a probe reads nprobe/nlist of a
# 16×-compressed table, then k × expand full-precision rows per query.
# ---------------------------------------------------------------------------


def ivf_pq_encode(index, books: PqCodebooks) -> DataFrame:
    """Codes co-located with the coarse assignment: (id, __list, code).
    Persist with ``.write.partitionBy("__list")`` and probes prune to
    the probed lists' files — the same layout contract as ivf_save."""
    return pq_encode(index.assigned, books, id_col=index.id_col,
                     vec_col=index.vec_col, keep_cols=["__list"])


def _adc_score_udf(books: PqCodebooks, queries: list):
    """Row-local ADC scoring for (query_id, code) pairs: the per-query
    LUTs ride in the closure (queries × m × ksub × 8 bytes, driver-
    built — same budget note as _adc_scan_fn)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    centers = books.centers
    m, dsub, norm = books.m, books.dsub, books.normalize
    qmat = np.array([q[1] for q in queries], dtype=np.float64)
    if norm and len(qmat):
        qmat = _normalize_rows(qmat)
    luts = {queries[i][0]: np.stack([
        (((centers[j] - qmat[i, j * dsub:(j + 1) * dsub]) ** 2)
         .sum(axis=1)) for j in range(m)])
        for i in range(len(qmat))}

    def _score(qid_s, code_s):
        import pandas as pd
        out = np.empty(len(qid_s), dtype=np.float64)
        ar = np.arange(m)
        if len(qid_s):
            codes = np.frombuffer(b"".join(code_s),
                                  dtype=np.uint8).reshape(-1, m)
            for qid in pd.unique(qid_s):
                mask = (qid_s == qid).to_numpy()
                out[mask] = luts[qid][ar[None, :],
                                      codes[mask]].sum(axis=1)
        return pd.Series(out)

    return pandas_udf(_score, DoubleType())


def _probe_lists(index, queries: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, __list): the nprobe cosine-nearest coarse lists per
    query — tiny broadcast centroid compare, shared by the raw and
    residual IVF-PQ searches so probe tie-breaking can never diverge."""
    id_col, vec_col = index.id_col, index.vec_col
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("__qv"),
                       _norm(F.col(vec_col)).alias("__qn"))
    c_cos = _safe_div(_dot(F.col("__qv"), F.col("centroid")),
                      F.col("__qn") * _norm(F.col("centroid")))
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("__ccos").desc(), F.col("list_id").asc())
    return (q.crossJoin(broadcast(index.centroids))
            .withColumn("__ccos", c_cos)
            .withColumn("__pr", F.row_number().over(w_probe))
            .filter(F.col("__pr") <= nprobe)
            .select("query_id", F.col("list_id").alias("__list")))


def ivf_pq_topk(corpus: DataFrame, index, codes: DataFrame,
                queries: DataFrame, books: PqCodebooks, *,
                k: int = 10, nprobe: int = 4, expand: int = 4,
                round_to: int | None = 6,
                exclude_ids: DataFrame | None = None) -> DataFrame:
    """IVF-PQ search: probe the nprobe nearest lists per query (tiny
    broadcast centroid compare), equi-join the probed lists' CODES
    (never the vectors), ADC-score row-locally, keep k × expand per
    query, exact-rerank those. Shuffle volume: the list-id equi-join
    carries only probed-list code rows; everything after is bounded by
    queries × k × expand. ``codes`` is ``ivf_pq_encode``'s output.

    ``exclude_ids`` (an ``(id_col)`` frame) removes those corpus ids
    from the candidate set BEFORE the ADC ranking window — the knob the
    streaming dedup-ingest fold needs for replay-exact decisions. It is
    applied AFTER the probed-list equi-join so the list-partitioned
    codes scan keeps its file pruning (an anti-join upstream of the
    probe join would force a full code-table read per call)."""
    id_col, vec_col = index.id_col, index.vec_col
    probes = _probe_lists(index, queries, nprobe)
    qrows = [(r[0], list(r[1])) for r in
             queries.select(id_col, vec_col).collect()]
    adc = _adc_score_udf(books, qrows)
    w = Window.partitionBy("query_id").orderBy(
        F.col("__adc").asc(), F.col("neighbor_id").asc())
    probed = (codes.filter(F.col("code").isNotNull())
              .join(broadcast(probes), "__list"))
    if exclude_ids is not None:
        probed = probed.join(exclude_ids.select(id_col), id_col,
                             "left_anti")
    cand = (
        probed
        .select("query_id", F.col(id_col).alias("neighbor_id"), "code")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__adc", adc(F.col("query_id"), F.col("code")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k * expand)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(corpus, cand, queries, id_col=id_col,
                         vec_col=vec_col, k=k, round_to=round_to)


def ivf_pq_save(spark, index, books: PqCodebooks, codes: DataFrame,
                path: str) -> None:
    """Persist the full compressed-search artifact as one directory:
    the IVF assignment + centroids (ivf_save layout), the PQ codebooks,
    and the codes partitioned by list id — probes then prune code FILES
    to nprobe/nlist, the on-disk twin of the in-memory plan."""
    from dexscraper_spark.operators.similarity import ivf_save

    from dexscraper_spark import fsio

    import json as _json

    ivf_save(index, path)
    pq_save(spark, books, f"{path}/pq_books")
    codes.write.mode("overwrite").partitionBy("__list") \
        .parquet(f"{path}/codes")
    # completion marker written through fsio, LAST: a witness that does
    # not depend on Spark's _SUCCESS markers (clusters can disable
    # mapreduce.fileoutputcommitter.marksuccessfuljobs) — what
    # ivf_pq_recover trusts before treating the artifact as live. It
    # carries the expected-file MANIFEST (name -> size) of everything
    # just written: on object stores a Hadoop directory rename is a
    # per-file copy+delete and the marker can arrive at the destination
    # ahead of the data files, so marker PRESENCE alone must never be
    # read as completeness — recovery re-verifies the manifest.
    fsio.write_text_atomic(
        spark, fsio.join(path, "_complete"),
        _json.dumps({"files": fsio.manifest_build(spark, path)}))


def ivf_pq_load(spark, path: str, *, id_col: str = "vec_id",
                vec_col: str = "embedding") -> tuple:
    """(index, books, codes) from an ivf_pq_save directory — or from a
    version-POINTER root (``path/_current`` names the live version
    directory): readers resolve the pointer first, so a republish under
    the pointer layout is invisible to them (no rename window at
    all)."""
    from dexscraper_spark import fsio
    from dexscraper_spark.operators.similarity import ivf_load

    path = fsio.pointer_resolve(spark, path)
    index = ivf_load(spark, path, id_col=id_col, vec_col=vec_col)
    books = pq_load(spark, f"{path}/pq_books")
    codes = spark.read.parquet(f"{path}/codes")
    return index, books, codes


def ivf_pq_extend_saved(spark, path: str, new_vectors: DataFrame, *,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> dict:
    """Append new vectors to an ivf_pq_save artifact using its STORED
    centroids and codebooks — the nightly shape. Idempotent AND
    self-repairing: the two appends (assigned, then codes) are not
    atomic, so each table is backfilled independently by what IT is
    missing — a rerun after a crash between the writes (or after a
    bad-row failure in the encode) completes the orphaned ids instead
    of skipping the whole batch forever (idempotence keyed only on the
    first write would do exactly that). Returns counts.

    Holds the artifact's maintenance lease for the duration: an extend
    interleaving a concurrent :func:`ivf_pq_republish` would append
    into a directory the swap is about to delete/rename (and the
    republish's corpus snapshot would silently miss the appended
    vectors). Concurrent extends of ONE artifact are likewise
    serialized — the two appends are not atomic together."""
    return _with_maintenance_lease(
        spark, path, "ivf_pq_extend_saved",
        lambda: _extend_saved_locked(spark, path, new_vectors,
                                     id_col=id_col, vec_col=vec_col))


def _extend_saved_locked(spark, path: str, new_vectors: DataFrame, *,
                         id_col: str, vec_col: str) -> dict:
    from dexscraper_spark import fsio
    from dexscraper_spark.operators.similarity import (
        _ivf_assign, ivf_load)

    # pointer layout: appends land in the CURRENT version directory
    # (in-place, like any parquet append); the lease is keyed on the
    # ROOT so extend and republish exclude each other across versions
    path = fsio.pointer_resolve(spark, path)
    index = ivf_load(spark, path, id_col=id_col, vec_col=vec_col)
    books = pq_load(spark, f"{path}/pq_books")
    code_ids = spark.read.parquet(f"{path}/codes").select(id_col)

    todo_assign = new_vectors.select(id_col, vec_col).join(
        index.assigned.select(id_col), id_col, "left_anti")
    # persist: both the assigned append and the codes backfill read
    # this plan, and the second read must NOT re-list the directory
    # the first write just appended to
    assigned_new = _ivf_assign(index, todo_assign).persist()
    try:
        n_assigned = assigned_new.count()
        if n_assigned:
            assigned_new.write.mode("append").partitionBy("__list") \
                .parquet(f"{path}/assigned")
        # codes backfill: everything assigned (old rows included — a
        # prior crash may have left orphans) that has no code yet
        all_assigned = index.assigned \
            .select(id_col, vec_col, "__list") \
            .unionByName(assigned_new.select(id_col, vec_col, "__list"))
        todo_codes = all_assigned.join(code_ids, id_col, "left_anti")
        new_codes = pq_encode(todo_codes, books, id_col=id_col,
                              vec_col=vec_col, keep_cols=["__list"])
        new_codes.write.mode("append").partitionBy("__list") \
            .parquet(f"{path}/codes")
    finally:
        assigned_new.unpersist()
    total = spark.read.parquet(f"{path}/codes").count()
    return {"appended": n_assigned, "indexed": total}


def ivf_pq_query_saved(spark, path: str, queries: DataFrame, *,
                       corpus: DataFrame | None = None,
                       k: int = 10, nprobe: int = 4, expand: int = 4,
                       round_to: int | None = 6,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       exclude_ids: DataFrame | None = None
                       ) -> DataFrame:
    """One-stop search against a SAVED artifact: resolve the pointer
    ONCE (so index and codes come from the same version even if a
    republish flips mid-call) and run :func:`ivf_pq_topk`. ``corpus``
    (for the exact rerank) defaults to the artifact's own assigned
    vectors."""
    from dexscraper_spark import fsio

    resolved = fsio.pointer_resolve(spark, path)
    index, books, codes = ivf_pq_load(spark, resolved, id_col=id_col,
                                      vec_col=vec_col)
    if corpus is None:
        corpus = index.assigned
    return ivf_pq_topk(corpus, index, codes, queries, books, k=k,
                       nprobe=nprobe, expand=expand, round_to=round_to,
                       exclude_ids=exclude_ids)


def ivf_pq_recover(spark, path: str, *,
                   clear_lease: bool = True) -> str:
    """Finish or undo a :func:`ivf_pq_republish` swap interrupted by a
    crash. Returns ``"ok"`` (live artifact present and complete; stale
    siblings cleaned), ``"rolled_forward"`` (the rebuilt artifact had
    committed — the swap is completed), or ``"rolled_back"`` (it had
    not — the previous artifact is restored). Raises when neither a
    complete artifact nor a recoverable sibling exists — after clearing
    any UNCOMMITTED ``__rebuilding`` leftovers, so a first-ever publish
    that crashed mid-save never wedges the path.

    A bare directory at ``path`` is NOT trusted as live: on object
    stores Hadoop rename is a copy, so a crash mid-swap can leave a
    PARTIAL ``path`` while the rest of the artifact sits in a sibling.
    Completeness witness = ``_committed`` (republish) or ``_complete``
    (any ivf_pq_save — both written via fsio, so they exist even on
    clusters that disable Spark's ``_SUCCESS`` markers) or
    ``codes/_SUCCESS`` (pre-marker artifacts) — and when the marker
    carries an expected-file MANIFEST (every save since the manifest
    change), the witness only counts after the manifest VERIFIES
    against the actual listing: a copy-backed rename moves the
    underscore markers ahead of the data files, so a crash mid-rename
    can park a bare marker on a half-filled directory (ADVICE r9). A
    manifest-failing ``path`` with a committed sibling is repaired by
    FINISHING the interrupted rename file-by-file (fsio.drain_rename:
    the swap only ever renames into a just-deleted path, so the two
    halves union to exactly the new artifact) and re-verifying; a
    witness-less/unverifiable ``path`` with no committed sibling is
    refused untouched — deleting a live (merely marker-less) artifact
    or rolling back to an OLDER ``__old`` would be silent data loss,
    strictly worse than a loud stop. Legacy manifest-less markers are
    still trusted as before (documented residual exposure). A
    ``__republish.lock`` lease left by the crashed run is cleared on
    every successful recovery."""
    from dexscraper_spark import fsio

    tmp, old = f"{path}__rebuilding", f"{path}__old"
    lock = f"{path}__republish.lock"

    # version-pointer root: publishes are reader-atomic, so the only
    # "recovery" is confirming the pointed-at version verifies (orphan
    # version dirs from crashed publishes are swept by the next
    # publish's GC, not here — they are harmless)
    pv = fsio.pointer_read(spark, path)
    if pv is not None:
        live = fsio.join(path, pv)
        ok = fsio.witness_verify(spark, live,
                                 ("_committed", "_complete"))
        if ok is None:
            ok = fsio.exists(spark, fsio.join(live, "codes",
                                              "_SUCCESS"))
        if not ok:
            raise ValueError(
                f"pointer at {path} names {pv} but that version fails "
                "its completeness witness — refusing to touch it")
        if clear_lease:
            fsio.delete(spark, lock)
        return "ok"

    def _done(status: str) -> str:
        # the lease is cleared only on an EXPLICIT recover call — the
        # automatic entry recovery inside republish passes
        # clear_lease=False so it can never silently break a LIVE
        # concurrent holder's exclusion
        if clear_lease:
            fsio.delete(spark, lock)
        return status

    tmp_witness = fsio.witness_verify(spark, tmp, ("_committed",))
    if fsio.exists(spark, path):
        ok = fsio.witness_verify(spark, path,
                                 ("_committed", "_complete"))
        if ok is None:
            ok = fsio.exists(spark, fsio.join(path, "codes",
                                              "_SUCCESS"))
        if ok:
            # live artifact: any siblings are a stale crashed attempt —
            # clear them so the next republish starts clean
            fsio.delete(spark, tmp)
            fsio.delete(spark, old)
            return _done("ok")
        if tmp_witness:
            # tmp verifies ALONE -> the swap never started moving it
            # (crash before/mid path->old); path remnants are the old
            # artifact's stragglers, superseded by the committed rebuild
            fsio.delete(spark, path)
            fsio.rename(spark, tmp, path)
            fsio.delete(spark, old)
            return _done("rolled_forward")
        if fsio.exists(spark, tmp) and (
                fsio.exists(spark, fsio.join(tmp, "_committed"))
                or fsio.exists(spark, fsio.join(path, "_committed"))):
            # crash mid tmp->path: files split across the two halves
            # (path had been fully renamed away first, so it holds ONLY
            # new-artifact files) — finish the rename, then demand the
            # manifest verify before declaring anything live
            fsio.drain_rename(spark, tmp, path)
            if fsio.witness_verify(spark, path, ("_committed",)):
                fsio.delete(spark, old)
                return _done("rolled_forward")
            raise ValueError(
                f"artifact at {path} is still incomplete after "
                "completing the interrupted rename from "
                f"{tmp} — manifest files are missing; refusing to "
                "declare it live or delete siblings")
        raise ValueError(
            f"artifact at {path} lacks a verifiable completeness "
            "witness (_committed/_complete manifest/codes/_SUCCESS) "
            "and no committed rebuild sibling exists — refusing to "
            "touch it (write the _complete marker if the artifact is "
            "known-good)")
    if tmp_witness:
        fsio.rename(spark, tmp, path)
        fsio.delete(spark, old)
        return _done("rolled_forward")
    if tmp_witness is False:
        # committed but manifest-incomplete tmp with NO path: the swap
        # protocol cannot produce this (files only ever drain tmp ->
        # path, which would exist) — something external removed files
        raise ValueError(
            f"committed rebuild at {tmp} fails its own manifest and "
            f"{path} is absent — data files are missing; not "
            "recoverable automatically")
    if fsio.exists(spark, old):
        fsio.delete(spark, tmp)
        fsio.rename(spark, old, path)
        return _done("rolled_back")
    # nothing recoverable; an uncommitted tmp is a crashed FIRST publish
    # — clear it so the retry starts clean instead of wedging here again
    fsio.delete(spark, tmp)
    if clear_lease:
        fsio.delete(spark, lock)
    raise FileNotFoundError(
        f"no IVF-PQ artifact at {path} (nor a recoverable "
        "__old/__rebuilding sibling; any uncommitted rebuild leftovers "
        "were cleared)")


def ivf_pq_republish(spark, corpus: DataFrame, path: str, *,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     nlist: int = 16, m: int = 16, ksub: int = 64,
                     seed: int = 42, k: int = 5, n_queries: int = 32,
                     nprobe: int = 4, expand: int = 4,
                     max_drop: float = 0.05,
                     min_recall: float | None = None,
                     layout: str = "auto") -> dict:
    """RECALL-GATED retrain + atomic republish of an ivf_pq_save
    artifact — the periodic maintenance op that closes the drift story:
    :func:`ivf_pq_extend_saved` (and the streaming fold) keep the
    centroids/codebooks day-0 frozen by design, so under distribution
    shift the assignment degrades and recall decays (RECALL.json tracks
    it). This composes the existing pieces into one safe operation:

    1. **Rebuild** on the CURRENT corpus with
       :func:`~dexscraper_spark.operators.similarity.
       ivf_build_deterministic` (layout-independent — yesterday's and
       today's artifacts differ only by data, never by partitioning) +
       :func:`pq_train` + :func:`ivf_pq_encode`.
    2. **Gate** — recall@k of the rebuilt index AND of the currently
       published artifact, measured against the brute-force oracle on
       one deterministic hash-ordered query sample (the tools/recall.py
       methodology and thresholds). Publish only if the rebuild is no
       worse than ``old - max_drop`` (and ≥ ``min_recall`` when given):
       a mis-parameterized retrain must never replace a healthy index.
    3. **Swap** — the 2-rename protocol proven in
       ``sinks.lake.compact_zordered``: write to ``<path>__rebuilding``,
       stamp a ``_committed`` marker (which doubles as the gate record),
       then ``path→__old``, ``tmp→path``. A crash at ANY point is
       repaired by :func:`ivf_pq_recover` (called at entry too): roll
       forward iff the marker exists, else roll back. All control-plane
       probes/renames go through fsio, so ``path`` may be an
       hdfs/s3a/abfss URI. Readers during the rename window retry; the
       streaming extend fold keeps working across the swap because it
       re-loads the artifact from ``path`` on every micro-batch.

    Cost: deterministic build = one bounded sample collect +
    |corpus| × nlist broadcast compares; PQ train = bounded sample;
    encode = one corpus pass; the gate's exact oracle is bounded by
    ``n_queries`` (n_queries × |corpus| dot products, the recall-tool
    budget). The rebuilt assignment is materialized once and feeds both
    the gate probe and the save (no double execution).

    ``layout`` picks the publish protocol:

    * ``"swap"`` — the 2-rename protocol above (flat directory at
      ``path``; readers retry during the rename window).
    * ``"pointer"`` — READER-ATOMIC version-pointer publish (VERDICT r9
      §next-3): the rebuild is written completely to
      ``path/v_NNNNNN``, then ``path/_current`` is flipped with one
      atomic tiny-file write (:func:`dexscraper_spark.fsio.
      pointer_publish`). There is NO window: readers resolve the
      pointer (``ivf_pq_load``/``ivf_pq_extend_saved`` do it
      automatically) and the previous version is retained for in-flight
      laggards; crashed publishes leave only orphan version dirs the
      next publish's GC sweeps — no recovery procedure exists because
      none is needed. Use this layout on object stores, where the swap
      rename is a seconds-long copy.
    * ``"auto"`` (default) — ``pointer`` iff ``path/_current`` already
      exists, else ``swap`` (full backward compatibility; opt a new
      artifact into the pointer layout by passing ``layout="pointer"``
      on its FIRST publish).

    Returns ``{"published": bool, "recall_new": .., "recall_old": ..,
    "reason": ..}`` — recall_old is None when no artifact exists yet
    (first publish: gate is min_recall only).
    """
    from dexscraper_spark import fsio

    if layout not in ("auto", "swap", "pointer"):
        raise ValueError(f"layout must be auto/swap/pointer, "
                         f"got {layout!r}")
    has_pointer = fsio.pointer_read(spark, path) is not None
    pointer = layout == "pointer" or (layout == "auto" and has_pointer)
    if pointer and not has_pointer and (
            fsio.exists(spark, fsio.join(path, "codes"))
            or fsio.exists(spark, fsio.join(path, "_complete"))):
        raise ValueError(
            f"{path} holds a FLAT ivf_pq artifact but layout='pointer' "
            "was requested — move it to <path>/v_000001 and write the "
            "_current pointer first, or republish with layout='swap'")
    if layout == "swap" and has_pointer:
        raise ValueError(
            f"{path} is a version-pointer root but layout='swap' was "
            "forced — refusing to overwrite the pointer layout")

    # entry recovery (swap layout only — the pointer layout has no
    # crash states to repair): finish/undo any interrupted prior swap.
    # A first-ever publish legitimately finds nothing — or only the
    # uncommitted leftovers of its own crashed previous attempt, which
    # recover clears before raising; either way, proceed to publish.
    if not pointer and (
            fsio.exists(spark, path)
            or fsio.exists(spark, f"{path}__rebuilding")
            or fsio.exists(spark, f"{path}__old")):
        try:
            # clear_lease=False: entry recovery must never silently
            # break a LIVE concurrent holder's exclusion — an orphaned
            # crashed-run lease needs one explicit ivf_pq_recover call
            ivf_pq_recover(spark, path, clear_lease=False)
        except FileNotFoundError:
            pass  # nothing recoverable: fresh publish

    # Maintenance lease: republish must not interleave with a
    # concurrent ivf_pq_extend_saved — vectors appended after this
    # run's corpus snapshot would be silently absent from the rebuilt
    # index, and the extend's two-table append can race the swap's
    # delete/rename of the same path (ADVICE r9). The lease makes the
    # mistake LOUD rather than being a distributed mutex (create-if-
    # absent is best-effort on object stores); a lease orphaned by a
    # crash is cleared by ivf_pq_recover. The caller must also ensure
    # ``corpus`` already contains every extended vector — the rebuild
    # is corpus-only and a stale corpus frame silently drops the rest.
    return _with_maintenance_lease(
        spark, path, "ivf_pq_republish",
        lambda: _republish_locked(
            spark, corpus, path, id_col=id_col, vec_col=vec_col,
            nlist=nlist, m=m, ksub=ksub, seed=seed, k=k,
            n_queries=n_queries, nprobe=nprobe, expand=expand,
            max_drop=max_drop, min_recall=min_recall,
            pointer=pointer))


def _with_maintenance_lease(spark, path: str, op: str, fn):
    """Run ``fn`` holding ``<path>__republish.lock`` — the shared
    exclusion between republish and extend; raises loudly when held."""
    import json as _json
    import os as _os
    import time as _time

    from dexscraper_spark import fsio

    lock = f"{path}__republish.lock"
    if not fsio.create_exclusive(spark, lock, _json.dumps(
            {"op": op, "pid": _os.getpid(),
             "ts": int(_time.time())})):
        try:
            holder = fsio.read_text(spark, lock)
        except OSError:
            holder = "<unreadable>"
        raise RuntimeError(
            f"maintenance lease {lock} is held ({holder}) — republish "
            "and extend must not run concurrently on one artifact; if "
            "the holder crashed, run ivf_pq_recover (which clears the "
            "lease) or delete the lock file")
    try:
        return fn()
    finally:
        fsio.delete(spark, lock)


def _republish_locked(spark, corpus: DataFrame, path: str, *,
                      id_col: str, vec_col: str, nlist: int, m: int,
                      ksub: int, seed: int, k: int, n_queries: int,
                      nprobe: int, expand: int, max_drop: float,
                      min_recall: float | None,
                      pointer: bool = False) -> dict:
    from dexscraper_spark import fsio
    from dexscraper_spark.operators.similarity import (
        cosine_topk, ivf_build_deterministic)

    vecs = corpus.select(id_col, vec_col)
    [probe_row] = vecs.select(F.size(vec_col).alias("d")) \
        .limit(1).collect()
    dim = int(probe_row.d)

    # deterministic hash-ordered query sample: spans the whole corpus
    # (head-of-table ids would test only the oldest distribution) and
    # reproduces bit-for-bit across layouts/reruns
    queries = (vecs.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
               .limit(n_queries))
    exact = _recall_sets(cosine_topk(vecs, queries, id_col=id_col,
                                     vec_col=vec_col, k=k, dim=dim), k)

    index = ivf_build_deterministic(vecs, id_col=id_col,
                                    vec_col=vec_col, nlist=nlist,
                                    seed=seed, cache=True)
    try:
        books = pq_train(vecs, vec_col=vec_col, dim=dim, m=m,
                         ksub=ksub, seed=seed)
        codes = ivf_pq_encode(index, books).persist()
        try:
            codes.count()
            recall_new = _recall_vs(exact, ivf_pq_topk(
                vecs, index, codes, queries, books, k=k,
                nprobe=nprobe, expand=expand), k)

            recall_old = None
            has_old = (fsio.pointer_read(spark, path) is not None
                       if pointer else fsio.exists(spark, path))
            if has_old:
                oidx, obooks, ocodes = ivf_pq_load(
                    spark, path, id_col=id_col, vec_col=vec_col)
                recall_old = _recall_vs(exact, ivf_pq_topk(
                    vecs, oidx, ocodes, queries, obooks, k=k,
                    nprobe=nprobe, expand=expand), k)

            if min_recall is not None and recall_new < min_recall:
                return {"published": False, "recall_new": recall_new,
                        "recall_old": recall_old,
                        "reason": f"recall_new {recall_new} < "
                                  f"min_recall {min_recall}"}
            if recall_old is not None \
                    and recall_new < recall_old - max_drop:
                return {"published": False, "recall_new": recall_new,
                        "recall_old": recall_old,
                        "reason": f"rebuild regressed recall "
                                  f"{recall_old} -> {recall_new} "
                                  f"(max_drop {max_drop})"}

            import json as _json
            gate_record = {"recall_new": recall_new,
                           "recall_old": recall_old,
                           "k": k, "n_queries": n_queries,
                           "nlist": nlist, "m": m,
                           "ksub": ksub, "seed": seed}
            if pointer:
                # reader-atomic publish: write the version dir fully
                # (ivf_pq_save stamps its manifest-carrying _complete
                # marker LAST), then flip the tiny pointer file — no
                # rename of a live directory anywhere. pointer_publish
                # retains the previous version for in-flight readers
                # and sweeps older versions + crashed-publish orphans.
                version = fsio.pointer_next_version(spark, path)
                ivf_pq_save(spark, index, books, codes,
                            fsio.join(path, version))
                fsio.pointer_publish(spark, path, version,
                                     meta=gate_record, keep=2)
                return {"published": True, "recall_new": recall_new,
                        "recall_old": recall_old,
                        "reason": "gate passed", "version": version}
            tmp, old = f"{path}__rebuilding", f"{path}__old"
            fsio.delete(spark, tmp)
            ivf_pq_save(spark, index, books, codes, tmp)
            # the gate record doubles as the commit marker AND carries
            # the expected-file manifest (see ivf_pq_recover: a bare
            # marker parked by a partial copy-backed rename is not
            # proof the data files arrived). Built AFTER ivf_pq_save so
            # it lists everything, _complete included.
            fsio.write_text_atomic(spark, fsio.join(tmp, "_committed"),
                                   _json.dumps({
                                       **gate_record,
                                       "files": fsio.manifest_build(
                                           spark, tmp)}))
            fsio.delete(spark, old)
            if fsio.exists(spark, path):
                fsio.rename(spark, path, old)
            fsio.rename(spark, tmp, path)
            fsio.delete(spark, old)
            return {"published": True, "recall_new": recall_new,
                    "recall_old": recall_old, "reason": "gate passed"}
        finally:
            codes.unpersist()
    finally:
        index.unpersist()


def _recall_sets(topk_df: DataFrame, k: int) -> dict:
    """query_id -> set(neighbor_id) from a ranked top-k frame (bounded:
    n_queries × k rows)."""
    out: dict = {}
    for r in topk_df.collect():
        if r["rank"] <= k:
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall_vs(exact: dict, approx_df: DataFrame, k: int) -> float:
    got = _recall_sets(approx_df, k)
    per_q = [len(got.get(q, set()) & s) / len(s)
             for q, s in exact.items() if s]
    return round(sum(per_q) / len(per_q), 4) if per_q else 0.0


# ---------------------------------------------------------------------------
# Residual IVF-PQ — the full FAISS IndexIVFPQ form (Jégou et al. §IV):
# PQ-encode each vector's RESIDUAL to its coarse centroid instead of the
# raw vector. Residuals concentrate near zero with far smaller variance
# than raw vectors, so the same m×ksub code budget quantizes them with
# materially lower error — measured here as reconstruction MSE and
# recall uplift over raw-vector IVF-PQ at identical parameters (pinned
# by test). Cosine contract: everything operates on UNIT vectors (the
# helper below), so L2 order == cosine order end-to-end; the final
# re-rank uses exact cosine on the raw vectors regardless.
# ---------------------------------------------------------------------------


def unit_vectors(df: DataFrame, *, vec_col: str = "embedding"):
    """Replace ``vec_col`` with its L2-normalized form (zero vectors
    stay zero — the engine's cosine-0 convention)."""
    v = F.col(vec_col)
    nrm = _norm(v)
    unit = F.when(nrm > 0,
                  F.transform(v, lambda x: x.cast("double") / nrm)) \
        .otherwise(F.transform(v, lambda x: x.cast("double")))
    return df.withColumn(vec_col, unit)


def _residuals(index) -> DataFrame:
    """(id, __list, __resid): each assigned unit vector minus its list
    centroid (broadcast join — the centroid table is tiny)."""
    r = F.zip_with(F.col(index.vec_col), F.col("centroid"),
                   lambda x, y: x.cast("double") - y.cast("double"))
    return (index.assigned
            .join(broadcast(index.centroids.withColumnRenamed(
                "list_id", "__list")), "__list")
            .select(index.id_col, "__list", r.alias("__resid")))


def ivf_pq_residual_build(corpus: DataFrame, *,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding", dim: int = 64,
                          nlist: int = 16, m: int = 16, ksub: int = 64,
                          seed: int = 42) -> tuple:
    """(index, books, codes): coarse quantizer fit on UNIT vectors,
    PQ codebooks fit on residuals (normalize=False — residuals are not
    unit vectors and must not be re-normalized), codes co-located with
    list ids. The returned index's ``assigned`` holds the unit vectors;
    keep the raw corpus around for the exact re-rank."""
    from dexscraper_spark.operators.similarity import ivf_build

    unit = unit_vectors(corpus.select(id_col, vec_col),
                        vec_col=vec_col)
    index = ivf_build(unit, id_col=id_col, vec_col=vec_col,
                      nlist=nlist, seed=seed, cache=False)
    resid = _residuals(index)
    books = pq_train(resid, vec_col="__resid", dim=dim, m=m,
                     ksub=ksub, seed=seed, normalize=False)
    codes = pq_encode(resid, books, id_col=id_col, vec_col="__resid",
                      keep_cols=["__list"])
    return index, books, codes


def ivf_pq_residual_topk(corpus: DataFrame, index, codes: DataFrame,
                         queries: DataFrame, books: PqCodebooks, *,
                         k: int = 10, nprobe: int = 4, expand: int = 4,
                         round_to: int | None = 6) -> DataFrame:
    """Residual ADC search: per (query, probed list) the LUT measures
    ‖(q_unit − centroid_list) − residual‖² — m × ksub exact
    subdistances against the residual codebooks — then candidates
    score by m lookups and the top k × expand re-rank with exact
    cosine on ``corpus``'s raw vectors. LUT budget is queries × nlist
    × m × ksub × 8 bytes, driver-built (same stance as _adc_scan_fn —
    all lists are pre-built since the centroid table is tiny and the
    probe set is query-dependent).
    """
    import numpy as np

    id_col, vec_col = index.id_col, index.vec_col
    uq = unit_vectors(queries.select(id_col, vec_col), vec_col=vec_col)
    probes = _probe_lists(index, uq, nprobe)
    qvecs = {r[0]: np.array(r[1], dtype=np.float64)
             for r in uq.collect()}
    cents = {r.list_id: np.array(r.centroid, dtype=np.float64)
             for r in index.centroids.collect()}
    centers = books.centers
    mm, dsub = books.m, books.dsub
    luts = {}
    for qid, qv in qvecs.items():
        for lid, c in cents.items():
            t = qv - c
            luts[(qid, lid)] = np.stack([
                (((centers[j] - t[j * dsub:(j + 1) * dsub]) ** 2)
                 .sum(axis=1)) for j in range(mm)])

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    def _score(qid_s, list_s, code_s):
        import pandas as pd
        out = np.empty(len(qid_s), dtype=np.float64)
        if len(qid_s):
            ar = np.arange(mm)
            codes_arr = np.frombuffer(
                b"".join(code_s), dtype=np.uint8).reshape(-1, mm)
            key = pd.DataFrame({"q": qid_s, "l": list_s})
            for (qid, lid), grp in key.groupby(["q", "l"], sort=False):
                mask = grp.index.to_numpy()
                out[mask] = luts[(qid, lid)][
                    ar[None, :], codes_arr[mask]].sum(axis=1)
        return pd.Series(out)

    adc = pandas_udf(_score, DoubleType())
    w = Window.partitionBy("query_id").orderBy(
        F.col("__adc").asc(), F.col("neighbor_id").asc())
    cand = (
        codes.filter(F.col("code").isNotNull())
        .join(broadcast(probes), "__list")
        .select("query_id", F.col(id_col).alias("neighbor_id"),
                "__list", "code")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__adc", adc(F.col("query_id"), F.col("__list"),
                                 F.col("code")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k * expand)
        .select("query_id", "neighbor_id")
    )
    return _exact_rerank(corpus, cand, queries, id_col=id_col,
                         vec_col=vec_col, k=k, round_to=round_to)
