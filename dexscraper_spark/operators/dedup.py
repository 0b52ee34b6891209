"""Deduplication operators — exact and near-dup (SURVEY §2.5 A8 + the
training-data-pipeline extensions in BASELINE.json's north star).

Exact dedup is a hash group-by; near-dup families:

* MinHash + LSH  — shingle → per-seed min-hash → band signatures →
  bucket-join candidates → verified Jaccard. All hashing uses ``xxhash64``
  with integer seeds (JVM-side, codegen'd). The candidate join is an
  equi-join on (band_id, band_hash) — linear shuffle, no cross product;
  this is the 100 TB-safe plan (brute-force pairwise Jaccard is O(n²)).
* SimHash        — 64-bit weighted-projection fingerprint; near-dups share
  fingerprints on rotated prefix bands.
* N-gram Jaccard — exact verified similarity for candidate pairs.

Reference parity: the reference's dedup is seen-set/``set()`` based
(dexscraper/utils.py:136,168; scraper.py:847-867) → ``dropDuplicates``;
everything beyond that is the scale extension the reference cannot do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dexscraper_spark.persist import tracked_persist


def dedup_exact(df: DataFrame, cols: list[str], *, keep_by: str | None = None) -> DataFrame:
    """A8: one surviving row per distinct ``cols`` combination.

    With ``keep_by`` the survivor is deterministic (min of keep_by);
    otherwise Spark's dropDuplicates keeps an arbitrary row — fine for
    sets, not for audited pipelines.
    """
    if keep_by is None:
        return df.dropDuplicates(cols)
    # total order: rows tying on keep_by fall through to the remaining
    # (orderable) columns, so the survivor never depends on
    # partition/arrival order. Orderability must be checked RECURSIVELY:
    # a map nested under an array/struct is just as unorderable as a
    # top-level MapType (orderBy would throw AnalysisException).
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _orderable(dt) -> bool:
        if isinstance(dt, MapType):
            return False
        if isinstance(dt, ArrayType):
            return _orderable(dt.elementType)
        if isinstance(dt, StructType):
            return all(_orderable(f.dataType) for f in dt.fields)
        return True

    rest = [f.name for f in df.schema.fields
            if f.name != keep_by and f.name not in cols
            and _orderable(f.dataType)]
    w = Window.partitionBy(*cols).orderBy(
        F.col(keep_by).asc(), *[F.col(c).asc() for c in rest])
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def _shingle_expr(text_col: str, n: int) -> str:
    # substring-based char shingles via SQL sequence/transform (JVM-side).
    return (
        f"array_distinct(transform(sequence(1, greatest(length({text_col}) - {n - 1}, 1)), "
        f"i -> substring({text_col}, i, {n})))"
    )


def word_shingles_expr(text_col: str, n: int = 2) -> str:
    # word n-grams: split on whitespace then join sliding windows.
    return (
        f"array_distinct(transform(sequence(1, greatest(size(split({text_col}, ' ')) - {n - 1}, 1)), "
        f"i -> array_join(slice(split({text_col}, ' '), i, {n}), ' ')))"
    )


def minhash_signatures(df: DataFrame, *, id_col: str, text_col: str,
                       num_hashes: int = 32, shingle_n: int = 3,
                       char_shingles: bool = True) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    xxhash64(shingle, seed=i).

    Implementation: explode shingles → one codegen'd ``min(xxhash64)``
    aggregate per seed → array. The explode materializes each shingle
    exactly once; the 32 min-aggregates are whole-stage-codegen'd and
    partial-aggregatable (map-side combine), so the shuffle carries one
    row per doc. The tempting zero-shuffle alternative — nested array
    ``transform``s — evaluates higher-order functions interpreted AND
    re-inlines the shingle expression once per seed: ~100× slower at
    5k docs, worse at scale.
    """
    # NULL text = failed extraction, not content: xxhash64(NULL, seed) is
    # a per-seed CONSTANT, so null-text docs would all share one signature,
    # collide in every band (quadratic candidate clique) and then "verify"
    # against each other. They cannot be near-dups of anything — exclude.
    df = df.filter(F.col(text_col).isNotNull())
    # Signature-path shingles skip ``array_distinct`` (duplicate shingles
    # can't change a min) and hoist the word split into a projection —
    # leaving ``split()`` inside the transform lambda re-splits the text
    # once per SHINGLE (measured 2.5x the signature stage).
    if char_shingles:
        exploded = df.select(
            F.col(id_col),
            F.explode(F.expr(
                f"transform(sequence(1, greatest(length({text_col}) - "
                f"{shingle_n - 1}, 1)), i -> substring({text_col}, i, "
                f"{shingle_n}))")).alias("__shingle"))
    else:
        exploded = df.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("__w")
        ).select(
            F.col(id_col),
            F.explode(F.expr(
                f"transform(sequence(1, greatest(size(__w) - "
                f"{shingle_n - 1}, 1)), i -> array_join(slice(__w, i, "
                f"{shingle_n}), ' '))")).alias("__shingle"))
    aggs = [F.min(F.xxhash64(F.col("__shingle"), F.lit(s))).alias(f"h{s}")
            for s in range(num_hashes)]
    per_doc = exploded.groupBy(id_col).agg(*aggs)
    return per_doc.select(
        F.col(id_col),
        F.array(*[F.col(f"h{s}") for s in range(num_hashes)]).alias("signature"))


def minhash_lsh_candidates(sigs: DataFrame, *, id_col: str,
                           num_bands: int = 8,
                           num_hashes: int = 32,
                           persist_signatures: bool = True) -> DataFrame:
    """LSH banding: split each signature into ``num_bands`` rows keyed by
    (band_id, hash(band slice)); docs sharing any band bucket become a
    candidate pair. Equi-join on the bucket key — linear shuffle.

    ``num_hashes`` must equal the signature length from
    ``minhash_signatures`` and divide evenly by ``num_bands`` — a band
    width of 0 (bands > hashes) would hash the EMPTY slice identically
    for every doc, silently collapsing all docs into one bucket and
    degenerating the linear-shuffle plan into the full O(n²) cross
    product this operator exists to avoid.

    ``persist_signatures`` materializes ``sigs`` so the self-join's two
    branches don't each re-run the shingle-explode + 32-min aggregation
    (Catalyst does not share subtrees) — the same discipline
    :func:`simhash_near_pairs` applies to its fingerprints, and the same
    ~(8·num_hashes) bytes/doc table a corpus-scale run would write to
    disk anyway. Measured: the duplicated signature aggregation was the
    dominant first-run cost of the whole MinHash pipeline.

    Returns distinct candidate pairs (id_a < id_b).
    """
    if num_bands > num_hashes or num_hashes % num_bands:
        raise ValueError(
            f"num_bands ({num_bands}) must divide num_hashes "
            f"({num_hashes}) with band width >= 1")
    if persist_signatures:
        sigs = tracked_persist(sigs)
    n = num_bands
    banded = sigs.select(
        F.col(id_col),
        F.posexplode(
            F.expr(f"transform(sequence(0, {n - 1}), "
                   f"b -> xxhash64(cast(slice(signature, b * (size(signature) div {n}) + 1, "
                   f"size(signature) div {n}) as string), b))")
        ).alias("band_id", "band_hash"),
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band_id", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band_id", "band_hash")
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_pairs(df: DataFrame, candidates: DataFrame, *, id_col: str,
                  text_col: str, shingle_n: int = 3,
                  char_shingles: bool = True,
                  threshold: float = 0.8,
                  persist_candidates: bool = True) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard similarity.

    Join texts onto the (small) candidate set, compute
    |A∩B| / |A∪B| with array intersect/union — JVM-side, per-pair cost
    bounded by shingle count.

    ``persist_candidates`` materializes the candidate pairs once — they
    feed BOTH the id semi-join and the verify join, and recomputing them
    means running the whole MinHash pipeline twice. Two longs per pair;
    at corpus scale this is the candidate table you'd checkpoint anyway.
    """
    if persist_candidates:
        candidates = tracked_persist(candidates)
    sh = _shingle_expr(text_col, shingle_n) if char_shingles \
        else word_shingles_expr(text_col, shingle_n)
    # shingle ONLY the docs that appear in a candidate pair — the candidate
    # set is tiny relative to the corpus (that's the point of LSH), so a
    # broadcast semi-join prunes the corpus before the interpreted shingle
    # HOF runs (measured 10x on the verify stage: corpus-wide shingling
    # on both join branches dominated)
    ids = (candidates.select(F.col("id_a").alias(id_col))
           .union(candidates.select(F.col("id_b").alias(id_col)))
           .distinct())
    needed = df.join(F.broadcast(ids), id_col, "left_semi")
    docs = needed.select(F.col(id_col), F.expr(sh).alias("__sh"))
    a = docs.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    b = docs.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = (inter.cast("double") / union.cast("double"))
    return (
        candidates.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def md5_le64(c):
    """Portable 64-bit shingle hash: the little-endian int64 of md5 bytes
    8..15 — bit-identical to DuckDB's ``md5_number_lower`` (signed vs
    unsigned display differs; the bit pattern is the same), so simhash
    fingerprints built on it are cross-engine verifiable. Slower than
    xxhash64 (md5 + 8 conv/shift terms) — use for oracle-checked paths;
    the default xxhash64 is the production hash.
    """
    # byte-swap the low 8 hex bytes, then ONE signed conv (negative toBase
    # = two's-complement interpretation, so the full 64-bit range casts
    # cleanly under ANSI). Bit-equal to the former 8×(conv→shift→or) form
    # and measured ~1.4× faster — this runs once per shingle occurrence,
    # the hottest expression in the oracle-checked simhash path.
    h = F.md5(c)
    swapped = F.concat(*[F.substring(h, 17 + 2 * j, 2)
                         for j in range(7, -1, -1)])
    return F.conv(swapped, 16, -10).cast("long")


def simhash_near_pairs(df: DataFrame, *, id_col: str, text_col: str,
                       shingle_n: int = 3, num_bands: int = 4,
                       max_hamming: int = 8,
                       persist_fingerprints: bool = True,
                       hash_fn=None) -> DataFrame:
    """SimHash near-dup pairs at scale: candidates share any 16-bit band
    of the 64-bit fingerprint (equi-join on (band_id, band_value) — linear
    shuffle, no cross product), verified by Hamming distance
    (bit_count(xor)) <= ``max_hamming``.

    Recall: complete for ``max_hamming < num_bands`` (pigeonhole — fewer
    differing bits than bands means some band matches exactly); above
    that, approximate by design.

    ``persist_fingerprints`` materializes the (id, simhash) table so the
    self-join's two branches don't recompute the shingle aggregation —
    16 bytes/doc, the same thing you'd write to disk at corpus scale.

    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    fps = simhash(df, id_col=id_col, text_col=text_col,
                  shingle_n=shingle_n, hash_fn=hash_fn)
    if persist_fingerprints:
        fps = tracked_persist(fps)
    return simhash_band_pairs(fps, id_col=id_col, num_bands=num_bands,
                              max_hamming=max_hamming)


def _banded_pairs(fps: DataFrame, probe: DataFrame | None, *,
                  id_col: str, fp_cols: tuple, band_array,
                  max_hamming: int) -> DataFrame:
    """Shared banded-candidate machinery for every fingerprint width:
    explode ``band_array`` per row, equi-join probe-vs-all on
    (band_id, band_value), verify Hamming = sum of bit_count(xor) over
    ``fp_cols`` BEFORE dedup so only near pairs shuffle, then distinct.

    Pair-order normalization is branch-specific: a SELF-join
    (probe=None) enumerates every pair in both orders, so ia<ib at the
    band join halves the verify volume; a PROBE join must keep the
    symmetric !=/least/greatest form — a probe row pairs with corpus
    ids on both sides of it, and ia<ib there would silently drop the
    half where the probe id is larger."""
    def banded(f):
        return f.select(
            F.col(id_col), *[F.col(c) for c in fp_cols],
            F.posexplode(band_array).alias("band_id", "band_value"))

    a = banded(probe if probe is not None else fps).select(
        F.col(id_col).alias("__ia"),
        *[F.col(c).alias(f"__fa_{c}") for c in fp_cols],
        "band_id", "band_value")
    b = banded(fps).select(
        F.col(id_col).alias("__ib"),
        *[F.col(c).alias(f"__fb_{c}") for c in fp_cols],
        "band_id", "band_value")
    hamming = None
    for c in fp_cols:
        t = F.bit_count(F.col(f"__fa_{c}").bitwiseXOR(F.col(f"__fb_{c}")))
        hamming = t if hamming is None else hamming + t
    # Self-join (probe=None): both sides enumerate the same set, so each
    # pair arrives in both orders — prefilter ia<ib at the band join and
    # HALVE the Hamming-verify volume. The symmetric !=/least/greatest
    # form is only needed when a probe side exists (a probe row must
    # pair with corpus ids on both sides of it).
    if probe is None:
        pair_filter = F.col("__ia") < F.col("__ib")
        ida, idb = F.col("__ia"), F.col("__ib")
    else:
        pair_filter = F.col("__ia") != F.col("__ib")
        ida, idb = F.least("__ia", "__ib"), F.greatest("__ia", "__ib")
    return (
        a.join(b, ["band_id", "band_value"])
        .filter(pair_filter)
        .select(ida.alias("id_a"), idb.alias("id_b"),
                hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_band_pairs(fps: DataFrame, *, id_col: str, num_bands: int = 4,
                       max_hamming: int = 8,
                       probe: DataFrame | None = None) -> DataFrame:
    """Banded candidate join over a prebuilt ``(id, simhash)`` table —
    the join stage of :func:`simhash_near_pairs`, exposed so callers can
    band DELTA fingerprints against a stored corpus (incremental
    curation) instead of always self-joining the full set.

    With ``probe=None``: the full self-join (every pair within ``fps``).
    With ``probe`` (a subset or disjoint ``(id, simhash)`` frame): only
    pairs touching at least one probe row — the delta-vs-everything
    scan, linear in \\|probe\\| × bucket density rather than \\|fps\\|².

    Returns (id_a, id_b, hamming) with id_a < id_b, Hamming-verified and
    deduplicated; identical output to the self-join restricted to pairs
    meeting the probe side.
    """
    bits_per = 64 // num_bands
    band_array = F.expr(
        f"transform(sequence(0, {num_bands - 1}), "
        f"b -> (simhash >> (b * {bits_per})) & {(1 << bits_per) - 1})")
    return _banded_pairs(fps, probe, id_col=id_col, fp_cols=("simhash",),
                         band_array=band_array, max_hamming=max_hamming)


def simhash(df: DataFrame, *, id_col: str, text_col: str,
            shingle_n: int = 3, bits: int = 64, hash_fn=None) -> DataFrame:
    """SimHash fingerprint: for each bit b, sum ±1 over shingle hashes'
    bit b; fingerprint bit = sign.

    Shape: explode shingles → hash each shingle ONCE → ``bits``
    codegen'd SUM aggregates (partial-aggregatable, map-side combine) →
    one projection folds the signs into the fingerprint. The interpreted
    nested-HOF variant (re-hashing every shingle per bit) measured ~100×
    slower at sf0.1 — same lesson as the MinHash rewrite.
    """
    sh = _shingle_expr(text_col, shingle_n)
    # NULL text = failed extraction: every null-text doc would fingerprint
    # to the identical 0 and pair Hamming-0 with every other one —
    # exclude them from near-dup detection (empty STRINGS keep their real
    # fingerprint: identical empties genuinely are duplicates).
    df = df.filter(F.col(text_col).isNotNull())
    # hash each shingle exactly once in a projection — putting xxhash64
    # inside the 64 aggregate expressions re-evaluates it per bit
    hashed = df.select(
        F.col(id_col), F.explode_outer(F.expr(sh)).alias("__g")
    ).select(
        F.col(id_col),
        F.when(F.col("__g").isNotNull(),
               (hash_fn or F.xxhash64)(F.col("__g"))).alias("__h"),
    )
    # ±1 sign-sum for bit b == 2·ones_b − n, so the aggregates are
    # branch-free 0/1 sums (bit b via arithmetic shift+mask; b=63 = sign
    # bit works because &1 strips the sign extension)
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.coalesce(
            F.sum(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1))),
            F.lit(0),
        ).alias(f"__o{b}")
        for b in range(bits)
    ]
    agg = hashed.groupBy(id_col).agg(*aggs)
    fp = None
    for b in range(bits):
        term = F.shiftleft(
            (2 * F.col(f"__o{b}") > F.col("__n")).cast("bigint"), b)
        fp = term if fp is None else fp + term
    return agg.select(F.col(id_col), fp.alias("simhash"))


def split_assignment(key, *, train_pct: int = 80, valid_pct: int = 10):
    """Deterministic train/valid/test split for training-data pipelines:
    bucket = portable-hash(key) mod 100, so the assignment is stable
    across runs, engines and cluster layouts (md5_le64 ≡ DuckDB
    md5_number_lower — the split is oracle-checkable, unlike rand()).
    """
    if not (isinstance(train_pct, int) and isinstance(valid_pct, int)):
        # reject fractions-as-percentages: train_pct=0.8 would silently
        # produce a ~1%/0%/99% split (integer buckets 0..99)
        raise ValueError(
            f"percentages must be ints in 0..100 (got train={train_pct!r} "
            f"valid={valid_pct!r}); pass 80, not 0.8")
    if not (0 < train_pct and 0 <= valid_pct
            and train_pct + valid_pct <= 100):
        raise ValueError(
            f"split percentages must satisfy 0 < train and "
            f"train + valid <= 100, got train={train_pct} valid={valid_pct}")
    bucket = F.pmod(md5_le64(key.cast("string")), F.lit(100))
    return (
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + valid_pct, F.lit("valid"))
        .otherwise(F.lit("test"))
    )


def dedup_components(pairs: DataFrame, *, id_a: str = "id_a",
                     id_b: str = "id_b", max_iter: int = 20,
                     driver_max_pairs: int = 100_000) -> DataFrame:
    """Connected components over near-dup pairs → canonical-document
    assignment: every doc in a duplicate cluster gets the cluster's
    minimum id as its component label (the survivor the pipeline keeps).

    Small-graph fast path: the pair set is ANSWER-sized (that is the
    point of LSH banding), and the iterative loop costs ~0.3-0.5 s of
    scheduler round-trips per round regardless of size — so when the
    deduplicated edge list is at most ``driver_max_pairs`` pairs (a few
    MB), it is collected and solved with union-find on the driver in
    milliseconds, bit-identically (union-by-min ⇒ root = component
    minimum, the same label the distributed fixpoint converges to).
    Above the bound — a dup-heavy crawl at corpus scale — the
    distributed pointer-jumping loop below runs unchanged; pass
    ``driver_max_pairs=0`` to force it.

    Min-label propagation WITH pointer jumping: each round every node
    takes the minimum label among itself and its neighbors, then follows
    its label's label (path halving). The jump makes convergence
    O(log diameter) instead of O(diameter) — a dup-heavy crawl chains
    rotations/revisions into paths hundreds of hops long, where plain
    propagation needs hundreds of rounds (measured: a 50k-doc corpus of
    chained near-dups blew the 20-round budget; with jumping it converges
    in 7). Each round is two equi-joins + one groupBy over the PAIR set —
    linear shuffle volume, no cross products; the driver-side loop only
    checks the scalar convergence count, it never collects data rows.

    Correctness of the jump: labels only decrease, and a node's label is
    always an id inside its own component, so label(label) is too; at the
    fixpoint label(u) = label(label(u)) and no neighbor offers a smaller
    label, which on a symmetric edge set forces the label constant across
    every edge — i.e. the component minimum everywhere.

    Returns (node, component) — component = min id reachable.
    """
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    # localCheckpoint (eager), NOT persist: each round must start from a
    # lineage-free frame. The previous persist-then-unpersist rotation
    # recomputed the ENTIRE loop history every round — unpersisting round
    # k-1 cascade-invalidates every cached plan built on top of it
    # (CacheManager removes dependent entries), so round k's "cached"
    # frame silently fell back to full lineage: measured 2 s → 46 s per
    # round by round 4 on a 234-pair graph. Checkpointing truncates the
    # plan instead, so every round is one join + one groupBy over
    # pair-scale frames, O(1) lineage, flat cost. (On a fault-tolerant
    # cluster run, prefer `spark.sparkContext.setCheckpointDir` +
    # `.checkpoint()` — local checkpoint blocks don't survive executor
    # loss; the loop structure is identical.)
    edges = fwd.unionByName(rev).distinct().localCheckpoint()

    if driver_max_pairs and edges.count() <= 2 * driver_max_pairs:
        from pyspark.sql import types as T

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for row in edges.collect():
            a, b = row[0], row[1]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra  # union by MIN: root = component minimum

        node_type = pairs.schema[id_a].dataType
        return pairs.sparkSession.createDataFrame(
            [(v, find(v)) for v in parent],
            T.StructType([T.StructField("node", node_type),
                          T.StructField("component", node_type)]))

    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("label", F.col("node")).localCheckpoint())
    converged = False
    for _ in range(max_iter):
        neigh = (
            edges.join(labels.select(F.col("node").alias("dst"), "label"),
                       "dst")
            .groupBy("src").agg(F.min("label").alias("nlabel"))
        )
        stepped = (
            labels.join(neigh.select(F.col("src").alias("node"), "nlabel"),
                        "node", "left")
            .select("node", F.col("label").alias("__old"),
                    F.least(F.col("label"),
                            F.coalesce(F.col("nlabel"), F.col("label")))
                    .alias("__cand"))
        )
        # pointer jump: follow my candidate label's own candidate label.
        # cand is total over nodes (every label IS a node), monotone
        # non-increasing — halves path lengths every round.
        jump = stepped.select(F.col("node").alias("__cand"),
                              F.col("__cand").alias("__cand2"))
        updated = (
            stepped.join(jump, "__cand", "left")
            .select("node",
                    F.coalesce(F.col("__cand2"), F.col("__cand"))
                    .alias("label"),
                    (F.coalesce(F.col("__cand2"), F.col("__cand"))
                     < F.col("__old")).cast("int").alias("changed"))
            .localCheckpoint()
        )
        n_changed = updated.agg(F.sum("changed")).collect()[0][0] or 0
        labels = updated.select("node", "label")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"dedup_components did not converge in {max_iter} rounds — "
            f"with pointer jumping rounds needed ≈ log2(graph diameter), "
            f"so this graph is extraordinarily deep; raise max_iter")
    return labels.select("node", F.col("label").alias("component"))


def simhash_wide(df: DataFrame, *, id_col: str, text_col: str,
                 shingle_n: int = 3) -> DataFrame:
    """128-bit SimHash as two independent 64-bit words — the HIGH-
    PRECISION near-dup tier for corpus scale (SCALE.md's banding-
    saturation note). Hamming distance scales with fingerprint width
    (the same edit measures ≈2× over 128 bits vs 64), so max_hamming=3
    here is a similarity RATE of 3/128 ≈ a 64-bit hamming of 1.5 —
    a STRICTER near-dup definition, matched to 32-bit bands whose
    chance-collision probability is 2⁻³² per band (65 536× below the
    64-bit path's 2⁻¹⁶ bands). Use it where chance candidates dominate
    the verify stage: very large corpora, or as a cheap first tier
    feeding the standard 64-bit detector.

    One pass over the shingles: each shingle hashed twice (xxhash64 and
    xxhash64 seeded with a leading literal — independent 64-bit
    families), 128 branch-free 0/1 sums, two fold projections. Shape and
    cost are the 64-bit :func:`simhash` × 2 aggregate width; shuffle
    volume is still (id, two longs).

    Returns (id_col, simhash_lo, simhash_hi).
    """
    sh = _shingle_expr(text_col, shingle_n)
    df = df.filter(F.col(text_col).isNotNull())
    hashed = df.select(
        F.col(id_col), F.explode_outer(F.expr(sh)).alias("__g")
    ).select(
        F.col(id_col),
        F.when(F.col("__g").isNotNull(),
               F.xxhash64(F.col("__g"))).alias("__h1"),
        # the second word's hash family: same xxhash64 kernel over a
        # tuple with a distinguishing literal — (lit, shingle) and
        # (shingle,) hash independently
        F.when(F.col("__g").isNotNull(),
               F.xxhash64(F.lit("simhash-wide-w2"),
                          F.col("__g"))).alias("__h2"),
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for word, col in (("a", "__h1"), ("b", "__h2")):
        aggs += [
            F.coalesce(
                F.sum(F.shiftright(F.col(col), b).bitwiseAND(F.lit(1))),
                F.lit(0),
            ).alias(f"__{word}{b}")
            for b in range(64)
        ]
    agg = hashed.groupBy(id_col).agg(*aggs)

    def fold(word: str):
        fp = None
        for b in range(64):
            term = F.shiftleft(
                (2 * F.col(f"__{word}{b}") > F.col("__n")).cast("bigint"), b)
            fp = term if fp is None else fp + term
        return fp

    return agg.select(F.col(id_col), fold("a").alias("simhash_lo"),
                      fold("b").alias("simhash_hi"))


def simhash_wide_band_pairs(fps: DataFrame, *, id_col: str,
                            max_hamming: int = 3,
                            probe: DataFrame | None = None) -> DataFrame:
    """Banded candidate join over a ``(id, simhash_lo, simhash_hi)``
    table: 4 × 32-bit bands (two per word), Hamming verified over the
    full 128 bits. Complete for ``max_hamming < 4`` (pigeonhole);
    ``probe`` has the same delta-vs-corpus semantics as
    :func:`simhash_band_pairs`. Returns (id_a, id_b, hamming),
    id_a < id_b."""
    m32 = (1 << 32) - 1
    band_array = F.array(
        F.col("simhash_lo").bitwiseAND(F.lit(m32)),
        F.shiftrightunsigned(F.col("simhash_lo"), 32),
        F.col("simhash_hi").bitwiseAND(F.lit(m32)),
        F.shiftrightunsigned(F.col("simhash_hi"), 32))
    return _banded_pairs(fps, probe, id_col=id_col,
                         fp_cols=("simhash_lo", "simhash_hi"),
                         band_array=band_array, max_hamming=max_hamming)


def _sem_pairs_capped(blocked: DataFrame, *, id_col: str, vec_col: str,
                      threshold: float, round_to: int,
                      verify: DataFrame | None, max_cluster: int,
                      seed: int, rounds: int = 6) -> DataFrame:
    """Hot-cluster-bounded within-block pair discovery (VERDICT r9
    §next-4): the plain kernel is O(n_c²) per cluster, so ONE
    semantically-degenerate hot cluster (all-identical boilerplate —
    common in crawl data) makes the whole stage quadratic. This caps
    the kernel: blocks over ``max_cluster`` rows are hash-split into
    ``ceil(n/max_cluster)`` sub-blocks before pairing, then CONTRACTED
    — rows that already LOST (paired with a smaller id) leave the
    working set — and re-split with a fresh hash seed next round.
    Pairs from every round accumulate; the global min-id component
    math downstream is untouched.

    Cost: each round's flops are ≤ |survivors| × max_cluster per hot
    cluster (every sub-block ≤ max_cluster rows) — linear in cluster
    size, never quadratic; ≤ ``rounds`` rounds total.

    Exactness: duplicate-DENSE hot clusters (the pathological case the
    cap exists for) contract geometrically — every loser is connected
    to its sub-block winner by an accumulated pair, winners re-pair
    next round, so connectivity and survivors match the uncapped
    kernel exactly (pytest pins a 90%-one-cluster corpus). For SPARSE
    pairs inside a non-contracting oversized cluster the cap is
    approximate-recall: a pair is missed only if its endpoints land in
    different sub-blocks every round — independent splits per round
    amplify recall like OR-ed LSH bands. That asymmetry (exact where
    it is cheap to be, probabilistic where exactness costs n²) is the
    same stance as the paper's cluster-boundary approximation.
    """
    from dexscraper_spark.operators.similarity import (
        exact_cosine_pairs_blocked)
    from dexscraper_spark.persist import materialize_artifact

    blocked = tracked_persist(blocked)
    sizes = blocked.groupBy("__sem_block") \
        .agg(F.count(F.lit(1)).alias("__n"))
    small = blocked.join(sizes.filter(F.col("__n") <= max_cluster),
                         "__sem_block", "left_semi")
    pair_frames = [exact_cosine_pairs_blocked(
        small, id_col=id_col, vec_col=vec_col, block_col="__sem_block",
        threshold=threshold, round_to=round_to, verify_against=verify)]
    cur = blocked.join(sizes.filter(F.col("__n") > max_cluster),
                       "__sem_block", "left_semi")
    for r in range(rounds):
        # materialize (not just persist): each round references the
        # previous round's frame several times AND the loop nests —
        # without a file-scan lineage cut the analyzed plan tree grows
        # exponentially with rounds and OOMs the driver at analysis
        # time, long before any data is big
        cur = materialize_artifact(cur, f"semcap_r{r}")
        csizes = cur.groupBy("__sem_block") \
            .agg(F.count(F.lit(1)).alias("__n"))
        fit = cur.join(csizes.filter(F.col("__n") <= max_cluster),
                       "__sem_block", "left_semi")
        pair_frames.append(exact_cosine_pairs_blocked(
            fit, id_col=id_col, vec_col=vec_col,
            block_col="__sem_block", threshold=threshold,
            round_to=round_to, verify_against=verify))
        cur = cur.join(csizes.filter(F.col("__n") > max_cluster),
                       "__sem_block", "left_semi")
        if cur.limit(1).count() == 0:
            break
        work = (cur.join(csizes, "__sem_block")
                .withColumn("__sub", F.pmod(
                    F.xxhash64(F.col(id_col),
                               F.lit(seed + 7919 * (r + 1))),
                    F.ceil(F.col("__n") / F.lit(max_cluster))
                    .cast("long")))
                .withColumn("__cap_block", F.concat_ws(
                    "#", F.col("__sem_block").cast("string"),
                    F.col("__sub").cast("string")))
                .select(id_col, vec_col, "__sem_block", "__cap_block"))
        pr = tracked_persist(exact_cosine_pairs_blocked(
            work, id_col=id_col, vec_col=vec_col,
            block_col="__cap_block", threshold=threshold,
            round_to=round_to, verify_against=verify))
        pair_frames.append(pr)
        # contract: a row that LOST within its sub-block (some smaller
        # id paired with it) is already wired into the component graph
        # through that pair — drop it from the working set so the hot
        # cluster shrinks geometrically
        losers = pr.select(F.col("id_b").alias(id_col)).distinct()
        cur = cur.join(losers, id_col, "left_anti")
    out = pair_frames[0].select("id_a", "id_b")
    for p in pair_frames[1:]:
        out = out.unionByName(p.select("id_a", "id_b"))
    return out.distinct()


def semantic_dedup(emb: DataFrame, *, id_col: str = "vec_id",
                   vec_col: str = "embedding", nlist: int = 16,
                   threshold: float = 0.95, seed: int = 42,
                   round_to: int = 6, assign_n: int = 1,
                   max_cluster: int | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public): k-means cluster the embedding space,
    then WITHIN each cluster drop all but one of every group of vectors
    whose pairwise cosine exceeds ``threshold``. Survivor = the group's
    minimum id via connected components over the above-threshold pair
    graph — the same deterministic min-id convention as the simhash
    path, so reruns and different cluster layouts keep identical rows.

    Composition of existing scale-shaped pieces, nothing new shuffles:
    :func:`~dexscraper_spark.operators.similarity.
    ivf_build_deterministic` fits the coarse quantizer (hash-sampled
    driver Lloyd — layout-independent, so the survivor set is
    reproducible on ANY partitioning; MLlib's k-means|| init is not)
    and assigns every vector to a list;
    :func:`exact_cosine_pairs_blocked` finds within-cluster pairs with
    the BLAS-filter + exact-verify kernel (O(n²/nlist) per cluster,
    never a global cross join); :func:`dedup_components` resolves
    transitive groups in O(log diameter) pair-scale rounds.

    Caveat by construction (same as the paper's): with ``assign_n=1``
    near-dups SPLIT ACROSS cluster boundaries are not candidates — size
    ``nlist`` so clusters stay semantically coherent, and treat the
    result as high-precision/approximate-recall. ``assign_n=2`` is the
    recall knob for that exact failure mode: every vector becomes a
    candidate in its 2 nearest lists (multi-assignment, standard IVF
    practice), so a boundary-straddling pair shares a block whenever
    either endpoint's second list is the other's first. Survivor math
    is unchanged — components are global over the union pair graph —
    at ~``assign_n²``× the within-block candidate flops (each list
    holds ~assign_n× the vectors; SCALE.md has the measured row).

    ``max_cluster`` bounds the within-cluster kernel for HOT clusters
    (all-identical boilerplate makes one cluster ≈ the whole corpus
    and the kernel quadratic): blocks above the cap are hash-split,
    paired, contracted, and re-split — see :func:`_sem_pairs_capped`
    for the cost/exactness contract. ``None`` (default) keeps the
    uncapped exact-within-cluster kernel.
    Returns the surviving rows of ``emb`` (all original columns).
    """
    from dexscraper_spark.operators.similarity import (
        _ivf_assign, exact_cosine_pairs_blocked, ivf_build_deterministic)
    from dexscraper_spark.persist import materialize_artifact

    if assign_n < 1:
        raise ValueError(f"assign_n must be >= 1, got {assign_n}")
    # cache only when the index's own top-1 assignment is what we block
    # on; the multi-assign branch re-assigns from the centroids and
    # would pay a wasted full-corpus materialization otherwise
    index = ivf_build_deterministic(emb, id_col=id_col, vec_col=vec_col,
                                    nlist=nlist, seed=seed,
                                    cache=(assign_n == 1))
    try:
        if assign_n == 1:
            blocked = index.assigned.select(
                id_col, vec_col, F.col("__list").alias("__sem_block"))
            verify = None
        else:
            # one row per (vector, list) for the n nearest lists; the
            # exact verify then needs the unique-id frame
            blocked = _ivf_assign(index, emb, n=assign_n).select(
                id_col, vec_col, F.col("__list").alias("__sem_block"))
            verify = emb.select(id_col, vec_col)
        if max_cluster is not None:
            if max_cluster < 2:
                raise ValueError(
                    f"max_cluster must be >= 2, got {max_cluster}")
            pairs = _sem_pairs_capped(
                blocked, id_col=id_col, vec_col=vec_col,
                threshold=threshold, round_to=round_to, verify=verify,
                max_cluster=max_cluster, seed=seed)
        else:
            pairs = exact_cosine_pairs_blocked(
                blocked, id_col=id_col, vec_col=vec_col,
                block_col="__sem_block", threshold=threshold,
                round_to=round_to, verify_against=verify)
        # Truncate lineage: the components frame is answer-sized
        # (pair-graph nodes only) but its plan reads the cluster-
        # assignment artifact — materialize it so the returned frame
        # survives the index release below (a mere persist() could evict
        # and then recompute against the deleted artifact). Released by
        # clear_plan_cache() like every other artifact.
        comps = materialize_artifact(
            dedup_components(pairs, id_a="id_a", id_b="id_b"),
            "semdedup_comps")
        losers = comps.filter(F.col("node") != F.col("component")) \
                      .select(F.col("node").alias(id_col))
    finally:
        index.unpersist()
    return emb.join(losers, id_col, "left_anti")
