"""End-to-end training-corpus curation — the pipeline a 100 TB
training-data deployment runs nightly, composed from the engine's
north-star operators:

    documents
      → per-doc text metrics (quality score, language ID, token count)
      → quality / language / length gates          (codegen'd scan stage)
      → exact dedup (content hash, min-id survivor) (one groupBy)
      → near-dup pairs (SimHash bands, xxhash64)    (linear-shuffle LSH)
      → connected components (min-label)            (pair-scale joins)
      → canonical representative per cluster        (anti-join of losers)
      → deterministic train/valid/test split        (portable hash)

Every stage is a DataFrame transformation: the pipeline is ONE lazy plan
(metrics/gates fuse into the scan; dedup stages shuffle doc-ids and
16-byte fingerprints, never full text, until the final semi-join).

Scale shape: the only corpus-sized shuffles are the exact-dedup groupBy
and the simhash fingerprint aggregation — both partial-aggregatable.
Everything after operates on the pair set, which LSH keeps ~answer-sized.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dexscraper_spark.functions import textstats as tx
from dexscraper_spark.operators.dedup import (
    dedup_components, simhash, simhash_band_pairs, simhash_wide,
    simhash_wide_band_pairs, split_assignment)
from dexscraper_spark.persist import tracked_persist


@dataclass(frozen=True)
class CurationConfig:
    min_quality: float = 0.5
    languages: tuple = ("en", "es", "fr", "de")   # drop 'und'
    min_tokens: int = 5
    simhash_max_hamming: int = 3
    simhash_bands: int = 4
    train_pct: int = 80
    valid_pct: int = 10
    # Near-dup fingerprint tier. 64 = standard simhash (16-bit bands);
    # 128 = simhash_wide (4 × 32-bit bands) for corpora where 16-bit
    # bands saturate with chance candidates — collisions per band grow
    # ~n²/2¹⁷ at 64 bits vs ~n²/2³³ at 128 (SCALE.md, banding-saturation
    # note), so nightly 100 TB curation runs the wide tier. Note the
    # Hamming scale doubles with width: max_hamming=3 over 128 bits is a
    # STRICTER similarity rate than 3 over 64. ``simhash_bands`` applies
    # to the 64-bit tier only (the wide tier's 4 × 32-bit banding is
    # fixed, complete for max_hamming < 4).
    fingerprint_bits: int = 64

    def __post_init__(self):
        if self.fingerprint_bits not in (64, 128):
            raise ValueError(
                f"fingerprint_bits must be 64 or 128, "
                f"got {self.fingerprint_bits}")
        # The wide tier's fixed 4 × 32-bit banding is pigeonhole-complete
        # only for max_hamming < 4 (4 bands catch ≤3 differing bits); a
        # larger radius would SILENTLY miss near-dup pairs — fail loudly
        # instead (repo convention), same as the tier-mismatch check.
        if self.fingerprint_bits == 128 and self.simhash_max_hamming >= 4:
            raise ValueError(
                f"fingerprint_bits=128 supports simhash_max_hamming <= 3 "
                f"(4 x 32-bit bands are complete only below the band "
                f"count), got {self.simhash_max_hamming}")

    @property
    def fp_cols(self) -> tuple:
        """The state-schema fingerprint columns for this tier."""
        return ("simhash",) if self.fingerprint_bits == 64 \
            else ("simhash_lo", "simhash_hi")


def _fingerprint(df: DataFrame, cfg: CurationConfig, *, id_col: str,
                 text_col: str, hash_fn) -> DataFrame:
    """Tier dispatch: (id, simhash) at 64 bits, (id, simhash_lo,
    simhash_hi) at 128."""
    if cfg.fingerprint_bits == 64:
        return simhash(df, id_col=id_col, text_col=text_col,
                       hash_fn=hash_fn)
    if hash_fn is not None:
        raise ValueError(
            "simhash_hash_fn is a 64-bit-tier knob (oracle portability); "
            "the wide tier pins its own two xxhash64 families")
    return simhash_wide(df, id_col=id_col, text_col=text_col)


def _near_pairs(fps: DataFrame, cfg: CurationConfig, *, id_col: str,
                probe: DataFrame | None = None) -> DataFrame:
    """Tier dispatch for the banded candidate join."""
    if cfg.fingerprint_bits == 64:
        return simhash_band_pairs(
            fps, id_col=id_col, num_bands=cfg.simhash_bands,
            max_hamming=cfg.simhash_max_hamming, probe=probe)
    return simhash_wide_band_pairs(
        fps, id_col=id_col, max_hamming=cfg.simhash_max_hamming,
        probe=probe)


def _gate(docs: DataFrame, id_col: str, text_col: str,
          cfg: CurationConfig, *, vectorized: bool = True) -> DataFrame:
    """Stage 1 — metrics + quality/language/length gates (deterministic
    per doc, so a doc gates identically in a full run and in any later
    delta batch).

    The metrics projection is ONE Arrow pass
    (:func:`~dexscraper_spark.functions.textstats.gate_metrics_arrow`):
    the three per-doc metrics are HOF-heavy expressions whose lambdas
    evaluate interpreted per token — the scan stage's dominant CPU —
    and the Arrow kernel computes all three in a single batch loop,
    bit-identical by contract (guide §4.2; pinned by
    test_gate_arrow_kernel_matches_exprs + the curation_pipeline
    oracle). Measured 1.9x on the metrics stage at sf0.1. The gate
    predicates stay JVM expressions over the kernel's output columns.

    ``vectorized=False`` keeps the pure-expression form (the
    equivalence test's reference; also the shape corpora with a
    Python-less executor image would run). There the metrics are
    computed inside an ``explode(array(struct(...)))`` — a one-element
    Generate, a deliberate optimizer barrier: with a plain project,
    predicate pushdown SUBSTITUTES the metric expressions into the gate
    predicates (``lang IN (...)`` becomes an OR-chain with a full copy
    of the lang-ID CASE per literal) with no common-subexpression
    elimination across the copies — measured 22x slower on long-text
    corpora. Predicates cannot be substituted through a Generate (nor
    through mapInArrow, which is why the kernel needs no barrier), so
    each metric is evaluated exactly once per row."""
    if vectorized:
        scored = tx.gate_metrics_arrow(docs, id_col=id_col,
                                       text_col=text_col)
    else:
        text = F.col(text_col)
        metrics = F.explode(F.array(F.struct(
            tx.lang_id(text).alias("lang"),
            tx.quality_score(text).alias("quality"),
            tx.token_count(text).alias("n_tokens")))).alias("__m")
        scored = docs.select(F.col(id_col), text, metrics).select(
            F.col(id_col), text, "__m.lang", "__m.quality", "__m.n_tokens",
        )
    return scored.filter(
        (F.col("quality") >= cfg.min_quality)
        & F.col("lang").isin(*cfg.languages)
        & (F.col("n_tokens") >= cfg.min_tokens)
    )


def curate_corpus(docs: DataFrame, *, id_col: str = "doc_id",
                  text_col: str = "text",
                  config: CurationConfig = CurationConfig(),
                  simhash_hash_fn=None) -> DataFrame:
    """Returns the curated corpus: one row per surviving document with
    (id, text, lang, quality, n_tokens, split). Deterministic — the
    survivor of every duplicate cluster is its minimum id, and the split
    is a portable content hash of the id, so reruns (and different
    cluster layouts) produce the identical corpus.

    ``simhash_hash_fn`` overrides the near-dup shingle hash (default
    xxhash64, the production hash); pass ``dedup.md5_le64`` for the
    cross-engine-portable fingerprint the oracle-checked registry row
    uses.
    """
    return curate_corpus_with_state(
        docs, id_col=id_col, text_col=text_col, config=config,
        simhash_hash_fn=simhash_hash_fn)[0]


def curate_corpus_with_state(docs: DataFrame, *, id_col: str = "doc_id",
                             text_col: str = "text",
                             config: CurationConfig = CurationConfig(),
                             simhash_hash_fn=None
                             ) -> tuple[DataFrame, DataFrame]:
    """:func:`curate_corpus` plus the INCREMENTAL-CURATION STATE — the
    per-shard fingerprint table a nightly pipeline stores so the next
    day's delta batch can be curated without recomputing the corpus
    (:func:`curate_delta`).

    State schema, one row per gated + exact-deduped document (near-dup
    LOSERS included — a future doc can join an old cluster only through
    a loser's fingerprint):
      (id_col, exact_h long, <fingerprint cols>, component long)
    ``exact_h`` is the xxhash64 content hash (future exact dups drop
    against it), the fingerprint columns are the near-dup tier's
    (``simhash`` at 64 bits; ``simhash_lo, simhash_hi`` at
    ``config.fingerprint_bits=128`` — future batches band against
    them), ``component`` the doc's duplicate-cluster label = its
    cluster's min id (the published survivor). The tier is baked into
    the stored schema: :func:`curate_delta` must run with the SAME
    ``fingerprint_bits`` the store was built with (it checks).
    Both frames are lazy; computing only the corpus costs nothing extra.
    """
    cfg = config
    text = F.col(text_col)

    # 1) metrics + gates
    scored = _gate(docs, id_col, text_col, cfg)

    # 2) exact dedup: identical text keeps the minimum id — one
    # row_number window over the content hash. The former groupBy(min id)
    # + left_semi join form evaluated the gate subtree TWICE (Catalyst
    # shares no subtrees: once under the aggregate, once on the join's
    # probe side — the gate's lang/quality HOFs are the scan stage's
    # dominant CPU) and shuffled the corpus twice (the hash agg plus the
    # id-keyed semi join, whose right side is corpus-sized and thus
    # never broadcastable at scale). The window form evaluates the gate
    # once and shuffles the corpus once, keyed by the hash; identical
    # survivors — rn=1 at min id per hash IS the group's min id row.
    # (64-bit content hash: a cross-text collision wrongly drops one doc
    # with p ≈ n²/2⁶⁵ — at a billion docs that is ~3%, so switch the key
    # to md5(text) [128-bit] there; xxhash64 keeps the hot path cheap.)
    # ``__h`` rides along on the persisted frame so the state build
    # reuses it instead of rehashing the full text; dropped before the
    # published corpus below.
    from pyspark.sql import Window
    dedup_w = Window.partitionBy("__h").orderBy(F.col(id_col))
    deduped = (scored.withColumn("__h", F.xxhash64(text))
               .withColumn("__rn", F.row_number().over(dedup_w))
               .filter(F.col("__rn") == 1).drop("__rn"))

    # 3) near-dup clusters: SimHash banding (production xxhash64 hash) →
    # pairs → connected components → every cluster keeps min id.
    # Persist: the near-dup detector and the survivor anti-join both read
    # it. tracked_persist registers the handle so
    # registry.clear_plan_cache() releases it — refresh cycles must not
    # accumulate orphaned block-manager storage.
    deduped = tracked_persist(deduped)
    fps = tracked_persist(_fingerprint(
        deduped, cfg, id_col=id_col, text_col=text_col,
        hash_fn=simhash_hash_fn))
    pairs = _near_pairs(fps, cfg, id_col=id_col)
    comps = dedup_components(pairs, id_a="id_a", id_b="id_b")
    # "component" is the declared output column of dedup_components —
    # filtering on the pre-alias "label" only resolved through lineage
    # attribute resolution and breaks on any lineage-free frame
    losers = comps.filter(F.col("node") != F.col("component")) \
                  .select(F.col("node").alias(id_col))
    # left_anti with no broadcast hint: the loser set is answer-sized on
    # ordinary corpora (AQE broadcasts it), but a dup-heavy crawl can make
    # it a large fraction of the corpus — let the optimizer decide.
    survivors = deduped.drop("__h").join(losers, id_col, "left_anti")

    # 4) deterministic split on the surviving ids
    curated = survivors.withColumn(
        "split", split_assignment(F.col(id_col), train_pct=cfg.train_pct,
                                  valid_pct=cfg.valid_pct))

    # 5) the incremental state: every deduped doc's hashes + cluster
    # label (singleton docs label themselves)
    state = (
        deduped.select(F.col(id_col), F.col("__h").alias("exact_h"))
        .join(fps, id_col)
        .join(comps.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("component",
                    F.coalesce(F.col("component"), F.col(id_col)))
    )
    return curated, state


@dataclass
class DeltaResult:
    """Output of :func:`curate_delta` — what a nightly incremental run
    publishes instead of a recurated corpus:

    * ``curated_new`` — newly surviving documents, same schema as
      :func:`curate_corpus` output (append these shards).
    * ``retracted`` — ids of PREVIOUSLY PUBLISHED survivors that must be
      removed: a delta doc can bridge two old duplicate clusters, and
      the merged cluster keeps only its global min id (delete these).
    * ``state_new`` — state rows for the delta batch (same schema as the
      stored state, with components resolved against it).
    * ``relabeled`` — (old_label, new_label) pairs for merged clusters.

    State maintenance for the NEXT delta is ``apply_state_updates(state,
    result)``: append ``state_new`` AND rewrite merged labels. The
    rewrite is not optional — a stale label L (already merged under
    C < L) would make a later bridge to a third cluster D with
    C < D < L resolve min(D, L) = D, silently missing that the merged
    cluster's true survivor is C and D must be retracted.
    """
    curated_new: DataFrame
    retracted: DataFrame
    state_new: DataFrame
    relabeled: DataFrame


def curate_delta(new_docs: DataFrame, state: DataFrame, *,
                 id_col: str = "doc_id", text_col: str = "text",
                 config: CurationConfig = CurationConfig(),
                 simhash_hash_fn=None,
                 check_ids: bool = True) -> DeltaResult:
    """Incrementally curate a batch of NEW documents against a stored
    corpus — the operation a nightly 100 TB pipeline actually runs: cost
    scales with the delta (plus one scan of the 32-byte/doc fingerprint
    store), never with the corpus text.

    Exactness contract (pytest-pinned): provided every id in
    ``new_docs`` is GREATER than every id in ``state`` (append-only
    ingest — monotone ids) and the config/hash match the full run's,

        curate_corpus(old ∪ new) ≡ (curate_corpus(old) − retracted)
                                    ∪ curated_new

    row-for-row, including split assignment. Why it decomposes:
    * gates are per-doc deterministic → old docs gate identically;
    * exact dedup keeps min id → an old keeper can never lose to a
      (larger-id) new doc, so old keepers are stable and a new doc drops
      iff its hash is in the store or loses within the batch;
    * old-old near-dup pairs are a deterministic function of stored
      fingerprints → already folded into the stored ``component``
      labels; only pairs touching a delta doc are NEW, and contracting
      old endpoints to their cluster labels preserves connectivity
      (quotient graph), so components over the contracted delta-scale
      graph reproduce the full graph's merged clusters;
    * a merged cluster's survivor is its min old label → the only
      corpus changes are new all-new-cluster survivors (appends) and
      old labels losing to smaller old labels (retractions).

    Scale shape: one scan + groupBy over the delta for gates/hashes, one
    banded join of delta fingerprints against store ∪ delta (equi-join
    on 16-bit bands — linear, no cross product), then connected
    components over the CONTRACTED pair graph, which is delta-sized.

    ``check_ids`` (default on) verifies the append-only precondition —
    every delta id strictly greater than every stored id — with one
    cheap agg over each side (the store is 32 bytes/doc; the exactness
    contract SILENTLY breaks if violated, which is worse than the scan).
    Pass ``check_ids=False`` to skip when the ingest already guarantees
    monotone ids.
    """
    cfg = config
    missing = [c for c in cfg.fp_cols if c not in state.columns]
    if missing:
        raise ValueError(
            f"curate_delta: stored state lacks fingerprint column(s) "
            f"{missing} — the store was built at a different "
            f"fingerprint_bits tier than config ({cfg.fingerprint_bits}); "
            f"state columns: {state.columns}")
    if check_ids:
        lo_new = new_docs.agg(F.min(F.col(id_col))).first()[0]
        hi_old = state.agg(F.max(F.col(id_col))).first()[0]
        if lo_new is not None and hi_old is not None and lo_new <= hi_old:
            raise ValueError(
                f"curate_delta: append-only precondition violated — delta "
                f"min {id_col}={lo_new} <= stored max {id_col}={hi_old}; "
                f"the min-id-survivor decomposition is only exact for "
                f"monotone ids (re-id the batch or run curate_corpus)")
    text = F.col(text_col)

    # gates + within-batch exact dedup (min id per content hash as ONE
    # row_number window — the former groupBy + semi-join form evaluated
    # the gate subtree twice and shuffled the batch twice, see
    # curate_corpus_with_state), then drop texts the store has. ``__h``
    # rides along on the persisted frame so state_new reuses it instead
    # of rehashing the full text.
    from pyspark.sql import Window
    scored = _gate(new_docs, id_col, text_col, cfg)
    hashed = scored.withColumn("__h", F.xxhash64(text))
    batch_w = Window.partitionBy("__h").orderBy(F.col(id_col))
    fresh = (hashed.withColumn("__rn", F.row_number().over(batch_w))
             .filter(F.col("__rn") == 1).drop("__rn")
             .join(state.select(F.col("exact_h").alias("__h")),
                   "__h", "left_anti"))
    fresh = tracked_persist(fresh)

    # delta fingerprints, banded against (store ∪ delta)
    fps_new = tracked_persist(_fingerprint(
        fresh, cfg, id_col=id_col, text_col=text_col,
        hash_fn=simhash_hash_fn))
    all_fps = (state.select(F.col(id_col),
                            *[F.col(c) for c in cfg.fp_cols])
               .unionByName(fps_new))
    pairs = _near_pairs(all_fps, cfg, id_col=id_col, probe=fps_new)

    # contract old endpoints to their stored cluster labels: connectivity
    # through a dropped old doc (a near-dup LOSER) must reach its cluster
    # — that is exactly why losers stay in the fingerprint store
    labels = state.select(F.col(id_col).alias("__n"),
                          F.col("component").alias("__c"))
    contracted = (
        pairs
        .join(labels.withColumnRenamed("__n", "id_a")
                    .withColumnRenamed("__c", "__ca"), "id_a", "left")
        .join(labels.withColumnRenamed("__n", "id_b")
                    .withColumnRenamed("__c", "__cb"), "id_b", "left")
        .select(F.coalesce(F.col("__ca"), F.col("id_a")).alias("ea"),
                F.coalesce(F.col("__cb"), F.col("id_b")).alias("eb"))
        .filter(F.col("ea") != F.col("eb"))
        .select(F.least("ea", "eb").alias("id_a"),
                F.greatest("ea", "eb").alias("id_b"))
        .distinct()
    )
    # nodes are {new ids} ∪ {old cluster labels}; component = global min
    comps = dedup_components(contracted, id_a="id_a", id_b="id_b")

    # new survivors: delta docs in an all-new cluster they win, or in no
    # cluster at all
    node_comp = comps.withColumnRenamed("node", id_col)
    survivors_new = (
        fresh.join(node_comp, id_col, "left")
        .filter(F.col("component").isNull()
                | (F.col("component") == F.col(id_col)))
        .drop("component", "__h")
    )
    curated_new = survivors_new.withColumn(
        "split", split_assignment(F.col(id_col), train_pct=cfg.train_pct,
                                  valid_pct=cfg.valid_pct))

    # retractions + relabels: old labels merged under a smaller old label
    old_labels = state.select(F.col("component").alias("node")).distinct()
    relabeled = (comps.join(old_labels, "node", "left_semi")
                 .filter(F.col("component") != F.col("node"))
                 .select(F.col("node").alias("old_label"),
                         F.col("component").alias("new_label")))
    retracted = relabeled.select(F.col("old_label").alias(id_col))

    # state rows for the delta: resolved component (merged label if the
    # doc joined/bridged clusters, else itself)
    state_new = (
        fresh.select(F.col(id_col), F.col("__h").alias("exact_h"))
        .join(fps_new, id_col)
        .join(node_comp, id_col, "left")
        .withColumn("component",
                    F.coalesce(F.col("component"), F.col(id_col)))
    )
    return DeltaResult(curated_new=curated_new, retracted=retracted,
                       state_new=state_new, relabeled=relabeled)


def migrate_state(docs: DataFrame, state: DataFrame, *,
                  id_col: str = "doc_id", text_col: str = "text",
                  config: CurationConfig = CurationConfig(
                      fingerprint_bits=128),
                  simhash_hash_fn=None) -> tuple[DataFrame, DataFrame]:
    """RETIER an existing fingerprint store (typically 64 → 128 bits)
    without re-ingesting from raw: returns ``(curated, state)`` at the
    NEW tier, row-for-row identical to
    ``curate_corpus_with_state(docs, config)`` — the corpus a store
    rebuild would publish and the state every later
    :func:`curate_delta` (at the new tier) folds against.

    Why the corpus must be recomputed too, not just the fingerprints:
    the near-dup graph is tier-dependent (max_hamming=3 over 128 bits
    is a stricter similarity rate than over 64), so cluster membership
    — and therefore which doc is each cluster's min-id survivor —
    changes with the tier. Rewriting only the fingerprint columns would
    leave 64-bit-era ``component`` labels that a later delta would
    silently trust.

    What IS reused from the store (the savings vs a full rerun):
    * the gate decisions — per-doc deterministic, tier-independent, so
      the stored id set IS the gated set (metrics are recomputed only
      for the surviving docs the corpus output needs);
    * the exact-dedup outcome — ``exact_h`` and the min-id winners are
      tier-independent; the corpus-wide content-hash groupBy is
      skipped entirely.
    The near-dup stages (fingerprint, banded pairs, components) run
    fresh at the new tier — that recompute is the migration.

    ``docs`` must be the SAME corpus the store was built from, and
    ``config`` must keep the store's gate parameters (quality/lang/
    token gates) — only the fingerprint tier/banding may differ; the
    id↔text mapping is taken on faith (one semi-join, no text rehash
    audit: pass the store's own corpus, not a lookalike).
    """
    cfg = config
    gated = tracked_persist(
        docs.select(F.col(id_col), F.col(text_col))
        .join(state.select(F.col(id_col), F.col("exact_h")), id_col))
    fps = tracked_persist(_fingerprint(
        gated, cfg, id_col=id_col, text_col=text_col,
        hash_fn=simhash_hash_fn))
    pairs = _near_pairs(fps, cfg, id_col=id_col)
    comps = dedup_components(pairs, id_a="id_a", id_b="id_b")
    losers = comps.filter(F.col("node") != F.col("component")) \
                  .select(F.col("node").alias(id_col))
    survivors = gated.select(F.col(id_col), F.col(text_col)) \
                     .join(losers, id_col, "left_anti")
    # survivors passed the gates when the store was built (per-doc
    # deterministic), so _gate here only recomputes their metrics —
    # the filter drops nothing
    curated = _gate(survivors, id_col, text_col, cfg).withColumn(
        "split", split_assignment(F.col(id_col), train_pct=cfg.train_pct,
                                  valid_pct=cfg.valid_pct))
    state_new = (
        gated.select(F.col(id_col), F.col("exact_h"))
        .join(fps, id_col)
        .join(comps.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("component",
                    F.coalesce(F.col("component"), F.col(id_col)))
    )
    return curated, state_new


def apply_state_updates(state: DataFrame, delta: DeltaResult, *,
                        id_col: str = "doc_id") -> DataFrame:
    """The fingerprint-store update a nightly run persists after
    :func:`curate_delta`: old rows with merged labels rewritten to the
    new label, delta rows appended. Returns the next run's ``state``."""
    orig_cols = list(state.columns)  # tier-agnostic: whatever fp cols
    lbl = delta.relabeled.withColumnRenamed("old_label", "component")
    updated = (
        state.join(lbl, "component", "left")
        .withColumn("component",
                    F.coalesce(F.col("new_label"), F.col("component")))
        .drop("new_label")
        # restore canonical column order (the join moved the key first)
        .select(*[F.col(c) for c in orig_cols])
    )
    return updated.unionByName(
        delta.state_new.select(*[F.col(c) for c in orig_cols]))


def write_curation_state(state: DataFrame, path: str) -> None:
    """Materialize the fingerprint store (32 bytes/doc + id at the
    64-bit tier, 40 at 128): the artifact :func:`curate_delta` reads
    tomorrow. Plain parquet — the
    banded join re-derives its bands per run, so no band partitioning is
    baked into the layout (band count is a config, not a schema)."""
    state.write.mode("overwrite").parquet(path)


def read_curation_state(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_curated(curated: DataFrame, path: str, *,
                  format: str = "parquet") -> None:
    """Materialize the curated corpus as training shards:
    ``path/split=train|valid|test/lang=…/part-*.parquet``. Partitioning by
    (split, lang) means a trainer reads exactly its shard's bytes
    (partition pruning on both keys) and per-language sampling never
    scans other languages. Low-cardinality keys (3 × ~4) keep the file
    count bounded; at corpus scale add a bucket/shard column if
    per-partition files grow past HDFS-friendly sizes.
    """
    (curated.write.mode("overwrite")
     .partitionBy("split", "lang").format(format).save(path))


def curation_stats(curated: DataFrame) -> DataFrame:
    """Per-(split, lang) corpus accounting: doc count, token sum, mean
    quality — the numbers a data curator reports after every run."""
    return (
        curated.groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tokens").alias("total_tokens"),
             F.avg("quality").alias("mean_quality"))
        .orderBy("split", "lang")
    )
