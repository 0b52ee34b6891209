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
                round_to: int | None = 6) -> DataFrame:
    """IVF-PQ search: probe the nprobe nearest lists per query (tiny
    broadcast centroid compare), equi-join the probed lists' CODES
    (never the vectors), ADC-score row-locally, keep k × expand per
    query, exact-rerank those. Shuffle volume: the list-id equi-join
    carries only probed-list code rows; everything after is bounded by
    queries × k × expand. ``codes`` is ``ivf_pq_encode``'s output."""
    id_col, vec_col = index.id_col, index.vec_col
    probes = _probe_lists(index, queries, nprobe)
    qrows = [(r[0], list(r[1])) for r in
             queries.select(id_col, vec_col).collect()]
    adc = _adc_score_udf(books, qrows)
    w = Window.partitionBy("query_id").orderBy(
        F.col("__adc").asc(), F.col("neighbor_id").asc())
    cand = (
        codes.filter(F.col("code").isNotNull())
        .join(broadcast(probes), "__list")
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
    to nprobe/nlist, the on-disk twin of the in-memory plan. ``path`` is
    one version directory of a pointer root: :func:`ivf_pq_publish`
    saves here, then flips the root's pointer to it."""
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
    # ivf_pq_recover verifies on the live version. It carries the
    # expected-file MANIFEST (name -> size) of everything just written,
    # so a version with files missing (removed or never copied in) fails
    # the check even though its marker is present.
    fsio.write_text_atomic(
        spark, fsio.join(path, "_complete"),
        _json.dumps({"files": fsio.manifest_build(spark, path)}))


def ivf_pq_load(spark, path: str, *, id_col: str = "vec_id",
                vec_col: str = "embedding") -> tuple:
    """(index, books, codes) from a version-pointer root
    (``path/_current`` names the live version directory): readers
    resolve the pointer first, so a publish is invisible to them (no
    rename window at all). A root without a pointer is read as a flat
    ivf_pq_save directory."""
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

    On a pointer root the appends land in the version ``_current``
    names (a root without a pointer is extended in place). Holds the
    root's maintenance lease for the duration: an extend interleaving a
    concurrent :func:`ivf_pq_republish` would append into a version the
    republish's corpus snapshot has already read, so the published
    rebuild would silently miss the appended vectors. Concurrent
    extends of ONE artifact are likewise serialized — the two appends
    are not atomic together."""
    return _with_maintenance_lease(
        spark, path, "ivf_pq_extend_saved",
        lambda: _extend_saved_locked(spark, path, new_vectors,
                                     id_col=id_col, vec_col=vec_col))


def _extend_saved_locked(spark, path: str, new_vectors: DataFrame, *,
                         id_col: str, vec_col: str) -> dict:
    from dexscraper_spark import fsio
    from dexscraper_spark.operators.similarity import (
        _ivf_assign, ivf_load)

    # appends land in the CURRENT version directory (in place, like
    # any parquet append); the lease is keyed on the ROOT so extend and
    # republish exclude each other across versions
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
                       k: int = 10, nprobe: int = 4, expand: int = 4,
                       round_to: int | None = 6,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """One-stop search against a SAVED artifact: load it (one pointer
    resolve, so index and codes come from the same version even if a
    republish flips mid-call) and run :func:`ivf_pq_topk`, exact-
    reranking against the artifact's own assigned vectors."""
    index, books, codes = ivf_pq_load(spark, path, id_col=id_col,
                                      vec_col=vec_col)
    return ivf_pq_topk(index.assigned, index, codes, queries, books,
                       k=k, nprobe=nprobe, expand=expand,
                       round_to=round_to)


def ivf_pq_publish(spark, index, books: PqCodebooks, codes: DataFrame,
                   path: str, *, meta: dict | None = None) -> str:
    """Publish an IVF-PQ artifact under the version-pointer root
    ``path`` — the one publish step ``ann --mode build`` and
    :func:`ivf_pq_republish` share. The artifact is saved completely
    into the root's next version directory (:func:`ivf_pq_save` stamps
    its manifest-carrying ``_complete`` marker last), then
    ``path/_current`` is flipped with one atomic tiny-file write
    (:func:`dexscraper_spark.fsio.pointer_publish`). No live directory
    is ever renamed, so readers see no window and a crash needs no
    repair: it leaves at most an orphan version directory, which the
    next publish's GC sweeps. ``keep=2`` retains the previous version
    for readers that resolved the pointer a moment before the flip.
    ``meta`` rides in the pointer file (republish's gate record).
    Returns the published version name.

    A root that holds a FLAT artifact (``codes/`` or ``_complete``
    directly under it, written before every publish went through the
    pointer) is refused and left untouched: query and extend still read
    it, and a one-time move makes it publishable."""
    from dexscraper_spark import fsio

    _refuse_flat(spark, path)
    version = fsio.pointer_next_version(spark, path)
    ivf_pq_save(spark, index, books, codes, fsio.join(path, version))
    fsio.pointer_publish(spark, path, version, meta=meta, keep=2)
    return version


def _refuse_flat(spark, path: str) -> None:
    from dexscraper_spark import fsio

    if fsio.pointer_read(spark, path) is None and (
            fsio.exists(spark, fsio.join(path, "codes"))
            or fsio.exists(spark, fsio.join(path, "_complete"))):
        raise ValueError(
            f"{path} holds a FLAT ivf_pq artifact — move it to "
            "<path>/v_000001 and write the _current pointer first")


def ivf_pq_recover(spark, path: str, *,
                   clear_lease: bool = True) -> str:
    """Check a version-pointer root after a crash. Publishes never
    rename a live directory (:func:`ivf_pq_publish`), so there is
    nothing to roll forward or back; orphan version directories from
    crashed publishes are harmless and swept by the next publish's GC.
    Returns ``"ok"`` when the version ``_current`` names passes its
    completeness witness: the ``_complete`` marker's expected-file
    manifest verifies against the listing, or, for an artifact saved
    before markers existed, ``codes/_SUCCESS`` is present. Raises
    ``ValueError`` (touching nothing) when it fails, and
    ``FileNotFoundError`` when the root has no pointer.

    With ``clear_lease`` (the default) the ``__republish.lock`` lease a
    crashed holder left is cleared. Republish's own entry check passes
    ``clear_lease=False`` so it can never silently break a LIVE
    concurrent holder's exclusion."""
    from dexscraper_spark import fsio

    pv = fsio.pointer_read(spark, path)
    if pv is not None:
        live = fsio.join(path, pv)
        ok = fsio.witness_verify(spark, live, ("_complete",))
        if ok is None:
            ok = fsio.exists(spark, fsio.join(live, "codes", "_SUCCESS"))
        if not ok:
            raise ValueError(
                f"pointer at {path} names {pv} but that version fails "
                "its completeness witness — refusing to touch it")
    if clear_lease:
        fsio.delete(spark, f"{path}__republish.lock")
    if pv is None:
        raise FileNotFoundError(f"no version pointer at {path}/_current")
    return "ok"


def ivf_pq_republish(spark, corpus: DataFrame, path: str, *,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     nlist: int = 16, m: int = 16, ksub: int = 64,
                     seed: int = 42, k: int = 5, n_queries: int = 32,
                     nprobe: int = 4, expand: int = 4,
                     max_drop: float = 0.05,
                     min_recall: float | None = None) -> dict:
    """RECALL-GATED retrain + reader-atomic republish of an IVF-PQ
    artifact — the periodic maintenance op that closes the drift story:
    :func:`ivf_pq_extend_saved` keeps the centroids/codebooks day-0
    frozen by design, so under distribution shift the assignment
    degrades and recall decays (RECALL.json tracks it). This composes
    the existing pieces into one safe operation:

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
    3. **Publish** through :func:`ivf_pq_publish`: the rebuild goes to
       ``path/v_NNNNNN`` and ``path/_current`` flips to it, carrying
       the gate record. Readers resolve the pointer (``ivf_pq_load``/
       ``ivf_pq_extend_saved`` do it automatically) and never see a
       window. All control-plane probes go through fsio, so ``path``
       may be an hdfs/s3a/abfss URI.

    At entry, :func:`ivf_pq_recover` checks the live version's witness
    (a root with no pointer yet is a first publish), and a root holding
    a FLAT artifact is refused untouched, before any rebuild work.

    Cost: deterministic build = one bounded sample collect +
    |corpus| × nlist broadcast compares; PQ train = bounded sample;
    encode = one corpus pass; the gate's exact oracle is bounded by
    ``n_queries`` (n_queries × |corpus| dot products, the recall-tool
    budget). The rebuilt assignment is materialized once and feeds both
    the gate probe and the save (no double execution).

    Returns ``{"published": bool, "recall_new": .., "recall_old": ..,
    "reason": ..}`` plus ``"version"`` when published — recall_old is
    None when no artifact exists yet (first publish: gate is min_recall
    only).
    """
    _refuse_flat(spark, path)
    try:
        ivf_pq_recover(spark, path, clear_lease=False)
    except FileNotFoundError:
        pass  # no pointer yet: this is the root's first publish

    # Maintenance lease: republish must not interleave with a
    # concurrent ivf_pq_extend_saved — vectors appended after this
    # run's corpus snapshot would be silently absent from the rebuilt
    # index (ADVICE r9). The lease makes the mistake LOUD rather than
    # being a distributed mutex (create-if-absent is best-effort on
    # object stores); a lease orphaned by a crash is cleared by
    # ivf_pq_recover. The caller must also ensure ``corpus`` already
    # contains every extended vector — the rebuild is corpus-only and a
    # stale corpus frame silently drops the rest.
    return _with_maintenance_lease(
        spark, path, "ivf_pq_republish",
        lambda: _republish_locked(
            spark, corpus, path, id_col=id_col, vec_col=vec_col,
            nlist=nlist, m=m, ksub=ksub, seed=seed, k=k,
            n_queries=n_queries, nprobe=nprobe, expand=expand,
            max_drop=max_drop, min_recall=min_recall))


def _with_maintenance_lease(spark, path: str, op: str, fn):
    """Run ``fn`` holding ``<path>__republish.lock`` — the shared
    exclusion between republish and extend of one pointer root (keyed
    on the ROOT, so it spans versions); raises loudly when held. A
    lease a crashed holder left is cleared by :func:`ivf_pq_recover`."""
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
                      min_recall: float | None) -> dict:
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
            if fsio.pointer_read(spark, path) is not None:
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

            gate_record = {"recall_new": recall_new,
                           "recall_old": recall_old,
                           "k": k, "n_queries": n_queries,
                           "nlist": nlist, "m": m,
                           "ksub": ksub, "seed": seed}
            version = ivf_pq_publish(spark, index, books, codes, path,
                                     meta=gate_record)
            return {"published": True, "recall_new": recall_new,
                    "recall_old": recall_old,
                    "reason": "gate passed", "version": version}
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
