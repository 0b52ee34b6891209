"""CLI entry point (reference parity: dexscraper/cli.py, SURVEY §3.1).

``python -m dexscraper_spark trending --once --limit 10 --format json``

Maps the reference's subcommands/presets onto the engine: preset →
``ScrapingConfig`` → tokens pipeline (synthetic frames in this repo; a
real deployment points ``--frames-parquet`` at captured wire frames) →
rank/limit → exporter. One-shot (``--once``) or a polling loop with the
reference's 5 s cadence driven by Structured Streaming is available via
``stream`` (demo-bounded).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from dexscraper_spark.config import (
    DEX, Chain, Filters, Order, Presets, RankBy, ScrapingConfig, Timeframe)

PRESETS = {
    "trending": lambda a: Presets.trending(chain=Chain(a.chain),
                                           timeframe=Timeframe(a.timeframe),
                                           limit=a.limit),
    "top-volume": lambda a: Presets.top_volume(chain=Chain(a.chain), limit=a.limit),
    "gainers": lambda a: Presets.gainers(chain=Chain(a.chain),
                                         timeframe=Timeframe(a.timeframe),
                                         limit=a.limit),
    "new-pairs": lambda a: Presets.new_pairs(chain=Chain(a.chain), limit=a.limit),
    "top-transactions": lambda a: Presets.top_transactions(chain=Chain(a.chain),
                                                           limit=a.limit),
    "boosted": lambda a: Presets.boosted_only(chain=Chain(a.chain), limit=a.limit),
    # non-preset entry: rank/order from flags, filters entirely from the
    # --min-*/--max-* bounds below (reference cli.py:811-843 custom mode)
    "custom": lambda a: ScrapingConfig(
        filters=Filters(chain_ids=[Chain(a.chain)]),
        rank_by=RankBy(a.rank_by), order=Order(a.order),
        timeframe=Timeframe(a.timeframe), limit=a.limit),
}

# CLI flag (argparse dest) → Filters field — the reference's per-field
# custom filter surface (cli.py:811-843) mapped 1:1 onto the engine's
# Filters DSL (config.py:127). Unset flags leave the preset's bounds
# untouched; set flags override them via dataclasses.replace.
FILTER_FLAGS = {
    "min_liquidity": ("liquidity_min", float),
    "max_liquidity": ("liquidity_max", float),
    "min_volume": ("volume_h24_min", float),
    "max_volume": ("volume_h24_max", float),
    "min_volume_h6": ("volume_h6_min", float),
    "max_volume_h6": ("volume_h6_max", float),
    "min_volume_h1": ("volume_h1_min", float),
    "max_volume_h1": ("volume_h1_max", float),
    "min_txns": ("txns_h24_min", int),
    "max_txns": ("txns_h24_max", int),
    "min_txns_h6": ("txns_h6_min", int),
    "max_txns_h6": ("txns_h6_max", int),
    "min_txns_h1": ("txns_h1_min", int),
    "max_txns_h1": ("txns_h1_max", int),
    "min_age": ("pair_age_min", float),
    "max_age": ("pair_age_max", float),
    "min_change": ("price_change_h24_min", float),
    "max_change": ("price_change_h24_max", float),
    "min_change_h6": ("price_change_h6_min", float),
    "max_change_h6": ("price_change_h6_max", float),
    "min_change_h1": ("price_change_h1_min", float),
    "max_change_h1": ("price_change_h1_max", float),
    "min_fdv": ("fdv_min", float),
    "max_fdv": ("fdv_max", float),
    "min_market_cap": ("market_cap_min", float),
    "max_market_cap": ("market_cap_max", float),
    "min_boosts": ("active_boosts_min", int),
    "min_impressions": ("recent_purchased_impressions_min", int),
    "max_launchpad_progress": ("max_launchpad_progress", float),
}


def apply_filter_flags(cfg, args):
    """Overlay any set --min-*/--max-*/--dex flags onto the config's
    Filters (preset bounds stay unless explicitly overridden)."""
    import dataclasses

    overrides = {}
    for flag, (field, _) in FILTER_FLAGS.items():
        v = getattr(args, flag, None)
        if v is not None:
            overrides[field] = v
    if getattr(args, "dex", None):
        overrides["dex_ids"] = [DEX(d) for d in args.dex]
    if not overrides:
        return cfg
    return dataclasses.replace(
        cfg, filters=dataclasses.replace(cfg.filters, **overrides))


def build_parser() -> argparse.ArgumentParser:
    # allow_abbrev=False: exact flag spellings only. A prefix
    # abbreviation (--min-q) would bind to whichever flag it uniquely
    # prefixes today and silently re-bind, or start failing, when a
    # later flag shares that prefix.
    p = argparse.ArgumentParser(prog="dexscraper_spark",
                                allow_abbrev=False)
    p.add_argument("command",
                   choices=list(PRESETS) + ["stream", "curate", "bars",
                                            "pack", "zorder", "ann"])
    p.add_argument("--chain", default="solana",
                   choices=[c.value for c in Chain])
    p.add_argument("--timeframe", default="h6", choices=[t.value for t in Timeframe])
    p.add_argument("--limit", type=int, default=10)
    p.add_argument("--format", default="json",
                   choices=["json", "jsonl", "csv", "prometheus", "table"])
    p.add_argument("--frames", type=int, default=16,
                   help="synthetic frame count (demo source)")
    import argparse as _ap
    p.add_argument("--once", action=_ap.BooleanOptionalAction, default=True,
                   help="stream: drain the bounded demo source and exit "
                        "(--no-once keeps the reference's 5s polling loop)")
    p.add_argument("--output", default="-")
    p.add_argument("--rank-by", default=RankBy.TRENDING_SCORE_H6.value,
                   choices=[r.value for r in RankBy],
                   help="custom: rank column (reference rankBy param)")
    p.add_argument("--order", default="desc", choices=["desc", "asc"])
    p.add_argument("--dex", action="append", default=None,
                   choices=[d.value for d in DEX],
                   help="restrict to DEX id(s); repeatable")
    cur = p.add_argument_group(
        "curate (training-corpus curation: full rebuild or nightly delta)")
    cur.add_argument("--docs", default=None,
                     help="curate: input documents parquet (doc_id, text)")
    cur.add_argument("--out", default=None,
                     help="curate: output dir (curated/ shards; delta also "
                          "writes retracted/)")
    cur.add_argument("--state", default=None,
                     help="curate: fingerprint-store dir (read for --delta; "
                          "default write target for full runs)")
    cur.add_argument("--state-out", default=None,
                     help="curate: where to write the updated store "
                          "(required with --delta; never overwrites --state "
                          "in place)")
    cur.add_argument("--delta", action="store_true",
                     help="curate ONLY the new batch against --state")
    cur.add_argument("--migrate", action="store_true",
                     help="curate: RETIER the stored fingerprint state "
                          "to --fingerprint-bits (reads --docs + "
                          "--state, writes the retiered corpus to "
                          "--out and the new-tier store to --state-out; "
                          "gates/exact-dedup are reused, near-dup "
                          "clusters recompute at the new tier)")
    cur.add_argument("--min-quality", type=float, default=0.5)
    cur.add_argument("--min-tokens", type=int, default=5)
    cur.add_argument("--fingerprint-bits", type=int, default=64,
                     choices=(64, 128),
                     help="curate: near-dup fingerprint tier — 128 for "
                          "very large corpora where 16-bit bands "
                          "saturate with chance candidates (the store "
                          "and every later --delta must use the same "
                          "tier; mismatches fail loudly)")
    bar = p.add_argument_group(
        "bars (OHLC hypertable maintenance: full rebuild or nightly "
        "delta; shares --out/--state/--state-out/--delta with curate)")
    bar.add_argument("--events", default=None,
                     help="bars: input ticks parquet")
    bar.add_argument("--symbol-col", default="event_type")
    bar.add_argument("--ts-col", default="ts")
    bar.add_argument("--price-col", default="value")
    bar.add_argument("--qty-col", default="value")
    bar.add_argument("--order-col", default="event_id",
                     help="bars: unique monotone order key (open/close "
                          "determinism)")
    pk = p.add_argument_group(
        "pack (sequence packing: curated docs -> fixed-token training "
        "rows; shares --docs/--out with curate)")
    pk.add_argument("--mode", default=None,
                    choices=["chunk", "bins", "build", "query", "extend",
                             "republish"],
                    help="pack: chunk (default; concat-and-chunk, docs may "
                         "span chunks) | bins (greedy first-fit, whole "
                         "docs). ann: build (default) | query | extend | "
                         "republish (recall-gated retrain + pointer "
                         "publish)")
    pk.add_argument("--max-tokens", type=int, default=2048)
    pk.add_argument("--num-shards", type=int, default=64,
                    help="pack bins: independent packing shards")
    zo = p.add_argument_group(
        "zorder (multi-column clustered lake writes: full rewrite, or "
        "--delta append keyed by the table's stored cut points; shares "
        "--out)")
    zo.add_argument("--input", default=None,
                    help="zorder: parquet path/dir to (re)cluster")
    zo.add_argument("--zorder-cols", default=None,
                    help="zorder: 2-4 comma-separated numeric/timestamp "
                         "columns, e.g. ts,value")
    zo.add_argument("--bits", type=int, default=None,
                    help="zorder: rank bits per column "
                         "(default min(8, 63//k))")
    zo.add_argument("--n-files", type=int, default=32,
                    help="zorder: output files (curve segments)")
    an = p.add_argument_group(
        "ann (IVF-PQ vector index maintenance: --mode build trains and "
        "persists the compressed index; query searches it; extend "
        "appends new vectors with the STORED centroids/codebooks)")
    an.add_argument("--vectors", default=None,
                    help="ann build/extend: parquet with (vec_id, "
                         "embedding)")
    an.add_argument("--index", default=None,
                    help="ann: index root (build and republish "
                         "publish a version behind its _current pointer; "
                         "query/extend read the live version)")
    an.add_argument("--queries", default=None,
                    help="ann query: parquet with query vectors")
    an.add_argument("--k", type=int, default=10)
    an.add_argument("--nlist", type=int, default=16)
    an.add_argument("--nprobe", type=int, default=4)
    an.add_argument("--pq-m", type=int, default=16,
                    help="ann build: PQ subspaces (must divide the "
                         "embedding dim)")
    an.add_argument("--pq-ksub", type=int, default=64,
                    help="ann build: centroids per subspace (<=256)")
    an.add_argument("--max-drop", type=float, default=0.05,
                    help="ann republish: max recall@k regression vs the "
                         "live artifact before the publish is refused")
    an.add_argument("--min-recall", type=float, default=None,
                    help="ann republish: absolute recall@k floor for "
                         "publishing")
    flt = p.add_argument_group(
        "custom filters (reference cli.py:811-843; override preset bounds)")
    for flag, (field, typ) in FILTER_FLAGS.items():
        flt.add_argument("--" + flag.replace("_", "-"), dest=flag, type=typ,
                         default=None, help=f"Filters.{field}")
    return p


def _emit(text: str, output: str) -> None:
    if output == "-":
        sys.stdout.write(text + "\n")
    else:
        with open(output, "w") as f:
            f.write(text + "\n")


def run(argv: list[str] | None = None, spark=None) -> int:
    args = build_parser().parse_args(argv)
    if spark is None:
        from dexscraper_spark.session import get_spark
        spark = get_spark("dexscraper-cli")
        spark.sparkContext.setLogLevel("ERROR")

    if args.command == "curate":
        return _run_curate(args, spark)

    if args.command == "bars":
        return _run_bars(args, spark)

    if args.command == "pack":
        return _run_pack(args, spark)

    if args.command == "zorder":
        return _run_zorder(args, spark)

    if args.command == "ann":
        return _run_ann(args, spark)

    if args.command == "stream":
        # before the batch source: the stream path generates its own
        # frames via the dexframes source — building the batch plan here
        # was pure wasted startup work
        return _run_stream(args, spark)

    from pyspark.sql import functions as F
    from dexscraper_spark.plans.tokens_pipeline import (
        extract_tokens, synthetic_metadata, synthetic_raw_frames)
    from dexscraper_spark.sinks import exporters as X

    raw = synthetic_raw_frames(spark, args.frames)
    tokens = extract_tokens(raw, synthetic_metadata(spark, args.frames))

    # normalize to the canonical tokens schema the exporters expect
    tokens = tokens.select(
        "symbol",
        F.col("base_token_name").alias("token_name"),
        "chain", "protocol",
        F.col("price_usd").alias("price"),
        F.col("volume_h24").alias("volume_24h"),
        F.col("liquidity_usd").alias("liquidity"),
        F.col("fdv").alias("market_cap"),
        "token_address", "pair_address", "quote_address",
        F.col("created_at").alias("ts"),
        "confidence_score", "field_count",
        F.lit(None).cast("double").alias("change_24h"),
        F.lit(None).cast("double").alias("change_1h"),
        # fields the wire frames don't carry but the Excel/CSV projection
        # (EXCEL_COLUMNS) requires — NULL padding like the change columns
        F.lit(None).cast("long").alias("txns_24h"),
        F.lit(None).cast("long").alias("makers"),
    )

    command = args.command
    cfg = apply_filter_flags(PRESETS[command](args), args)
    # Columns genuinely decoded from the wire frames. The normalized
    # schema above also carries NULL padding (change_*, txns_24h, makers)
    # for the exporter projections — padding must count as UNSERVABLE for
    # both filters and ranking, or an all-NULL column silently filters
    # every row / ranks arbitrarily.
    decoded = {"symbol", "token_name", "chain", "protocol", "price",
               "volume_24h", "liquidity", "market_cap", "token_address",
               "pair_address", "quote_address", "ts",
               "confidence_score", "field_count"}
    # demo tokens lack some DSL columns (txns_24h, boost) — skip those
    # predicates, as the reference server ignores unservable params.
    # They are DECLARED silent: the typo warning should fire only for
    # columns this source could have served.
    unservable = {"txns_24h", "txns_6h", "txns_1h", "volume_6h",
                  "volume_1h", "change_24h", "change_6h", "change_1h"}
    pred = cfg.filters.to_column(available_columns=decoded,
                                 silent_columns=unservable)
    filtered = tokens.filter(pred)
    # rank by the preset's column when the wire frames carry it (volume /
    # liquidity / market-cap ranks are decoded); ranks the demo frame
    # format cannot serve (txns, price-change, trending-score, boost)
    # degrade to confidence ordering — the same unservable-param fallback
    # as the filters, mirroring the reference client's confidence sort
    # when the server ignores a rank param.
    from dexscraper_spark.config import Order
    rank_name = cfg.rank_column()
    rank = F.col(rank_name if rank_name in decoded else "confidence_score")
    ordering = (rank.desc_nulls_last() if cfg.order == Order.DESC
                else rank.asc_nulls_last())
    ranked = (filtered
              .orderBy(ordering, F.col("token_address").asc_nulls_last())
              .limit(cfg.limit))

    now = int(time.time())
    if args.format == "json":
        # batch stats over the full filtered batch, tokens[] = top-N
        # (reference semantics: models.py:369-381)
        _emit(X.enhanced_json_document(filtered, extraction_ts=now,
                                       top_n=args.limit,
                                       tiebreak="token_address"),
              args.output)
    elif args.format == "jsonl":
        lines = [r["line"] for r in X.jsonl_rows(ranked).collect()]
        _emit("\n".join(lines), args.output)
    elif args.format == "csv":
        rows_df = X.excel_rows(ranked)
        rows = rows_df.collect()
        # header from the schema, not the first row — an empty result
        # (filters matched nothing) still emits a valid CSV header
        def q(v) -> str:
            sv = "" if v is None else str(v)
            if any(ch in sv for ch in (",", '"', "\n", "\r")):
                sv = '"' + sv.replace('"', '""') + '"'
            return sv
        header = ",".join(q(c) for c in rows_df.columns)
        body = "\n".join(",".join(q(v) for v in r.asDict().values())
                          for r in rows)
        _emit(header + ("\n" + body if body else ""), args.output)
    elif args.format == "prometheus":
        _emit(X.prometheus_text(ranked, extraction_ts=now, top_n=args.limit,
                                tiebreak="token_address"), args.output)
    else:  # table
        rows = ranked.collect()
        cols = ("symbol", "chain", "protocol", "price", "volume_24h",
                "confidence_score")
        widths = {c: max(len(c), *(len(str(r[c])) for r in rows)) if rows else len(c)
                  for c in cols}
        lines = [" | ".join(c.ljust(widths[c]) for c in cols)]
        lines += [" | ".join(str(r[c]).ljust(widths[c]) for c in cols)
                  for r in rows]
        _emit("\n".join(lines), args.output)
    return 0


def _validate_pipeline_args(cmd: str, input_flag: str, input_value,
                            args) -> int:
    """Shared arg contract for the nightly-pipeline subcommands (curate,
    bars): required input/--out, --delta needs --state + --state-out,
    and the --state-out != --state guard — realpath, not abspath, so a
    symlinked store alias can't sneak an in-place overwrite past it
    (Spark's overwrite DELETES the target before the lazy read of the
    old store completes: verified data loss). Returns 0 or exit code 2."""
    if not input_value or not args.out:
        print(f"{cmd}: {input_flag} and --out are required",
              file=sys.stderr)
        return 2
    if args.delta and (not args.state or not args.state_out):
        print(f"{cmd} --delta: --state and --state-out are required",
              file=sys.stderr)
        return 2
    if args.delta and os.path.realpath(args.state) == os.path.realpath(
            args.state_out):
        print(f"{cmd} --delta: --state-out must differ from --state "
              "(in-place overwrite would destroy the store mid-read)",
              file=sys.stderr)
        return 2
    if not args.delta and not (args.state_out or args.state):
        print(f"{cmd}: --state (or --state-out) is required",
              file=sys.stderr)
        return 2
    return 0


def _run_curate(args, spark) -> int:
    """The nightly training-corpus entry point. Full:

        curate --docs D.parquet --out OUT --state STORE

    writes OUT/curated/ (split/lang-partitioned shards) and the
    fingerprint store. Delta:

        curate --docs NEW.parquet --delta --state STORE \
               --out OUT_RUN --state-out STORE2

    writes OUT_RUN/curated/ (new survivors only), OUT_RUN/retracted/
    (previously published ids to delete — a delta doc can merge two old
    clusters), and the updated store to --state-out (the store is never
    rewritten in place while being read). Emits one JSON summary line.
    """
    from dexscraper_spark.plans.curation import (
        CurationConfig, apply_state_updates, curate_corpus_with_state,
        curate_delta, migrate_state, read_curation_state, write_curated,
        write_curation_state)

    if args.migrate and args.delta:
        print("curate: --migrate and --delta are mutually exclusive",
              file=sys.stderr)
        return 2
    if args.migrate:
        if not (args.docs and args.out and args.state and args.state_out):
            print("curate --migrate: --docs, --out, --state and "
                  "--state-out are required", file=sys.stderr)
            return 2
        if os.path.realpath(args.state) == os.path.realpath(
                args.state_out):
            print("curate --migrate: --state-out must differ from "
                  "--state (in-place overwrite would destroy the store "
                  "mid-read)", file=sys.stderr)
            return 2
        cfg = CurationConfig(min_quality=args.min_quality,
                             min_tokens=args.min_tokens,
                             fingerprint_bits=args.fingerprint_bits)
        curated, state = migrate_state(
            spark.read.parquet(args.docs),
            read_curation_state(spark, args.state), config=cfg)
        curated.persist()
        try:
            write_curated(curated, f"{args.out}/curated")
            write_curation_state(state, args.state_out)
            summary = {
                "mode": "migrate",
                "fingerprint_bits": args.fingerprint_bits,
                "survivors": curated.count(),
                "state_rows": spark.read.parquet(args.state_out).count(),
            }
        finally:
            curated.unpersist()
        _emit(json.dumps(summary), args.output)
        return 0

    rc = _validate_pipeline_args("curate", "--docs", args.docs, args)
    if rc:
        return rc
    cfg = CurationConfig(min_quality=args.min_quality,
                         min_tokens=args.min_tokens,
                         fingerprint_bits=args.fingerprint_bits)
    docs = spark.read.parquet(args.docs)
    # Counting strategy for the summary, both branches: persist the
    # result frames and count THOSE, not the written dirs — (a) a
    # zero-survivor partitionBy write leaves no parquet footers, and
    # re-reading it throws UNABLE_TO_INFER_SCHEMA (an all-dup/all-gated
    # delta batch is a perfectly normal nightly outcome); (b) without
    # the persist, each write + count re-executes the post-fingerprint
    # pipeline stages — real wasted executor time at corpus scale.
    if args.delta:
        state = read_curation_state(spark, args.state)
        res = curate_delta(docs, state, config=cfg)
        res.curated_new.persist()
        res.retracted.persist()
        try:
            write_curated(res.curated_new, f"{args.out}/curated")
            res.retracted.write.mode("overwrite").parquet(
                f"{args.out}/retracted")
            write_curation_state(apply_state_updates(state, res),
                                 args.state_out)
            summary = {
                "mode": "delta",
                "new_survivors": res.curated_new.count(),
                "retracted": res.retracted.count(),
                "state_rows": spark.read.parquet(args.state_out).count(),
            }
        finally:
            res.curated_new.unpersist()
            res.retracted.unpersist()
    else:
        state_out = args.state_out or args.state
        curated, state = curate_corpus_with_state(docs, config=cfg)
        curated.persist()
        try:
            write_curated(curated, f"{args.out}/curated")
            write_curation_state(state, state_out)
            summary = {
                "mode": "full",
                "survivors": curated.count(),
                "state_rows": spark.read.parquet(state_out).count(),
            }
        finally:
            curated.unpersist()
    _emit(json.dumps(summary), args.output)
    return 0


def _run_bars(args, spark) -> int:
    """OHLC hypertable maintenance — the nightly rollup job as a CLI.

    Full mode: aggregate all ticks into the fine partial-bar state,
    write it (--state / --state-out), roll the m5/h1/h6/h24 cascade
    from the written state into <out>/bars. --delta: fold a tick batch
    into the stored state (ohlc_update — cost ∝ delta + bar count,
    never history) and write the updated state + refreshed cascade.
    Emits one JSON summary line.
    """
    from dexscraper_spark.config import Timeframe
    from dexscraper_spark.operators.ohlc import (
        ohlc_frames_from_partials, ohlc_partials, ohlc_update)

    rc = _validate_pipeline_args("bars", "--events", args.events, args)
    if rc:
        return rc

    kw = dict(symbol_col=args.symbol_col, ts_col=args.ts_col,
              price_col=args.price_col, qty_col=args.qty_col,
              order_col=args.order_col)
    frames = tuple((tf.value, tf.seconds)
                   for tf in (Timeframe.M5, Timeframe.H1,
                              Timeframe.H6, Timeframe.H24))
    fine_secs = frames[0][1]
    ticks = spark.read.parquet(args.events)
    if args.delta:
        stored = spark.read.parquet(args.state)
        state_new = ohlc_update(stored, ticks, bucket_seconds=fine_secs,
                                **kw)
        state_out = args.state_out
        mode = "delta"
    else:
        state_new = ohlc_partials(ticks, bucket_seconds=fine_secs, **kw)
        state_out = args.state_out or args.state
        mode = "full"
    state_new.write.mode("overwrite").parquet(state_out)
    written = spark.read.parquet(state_out)
    bars = ohlc_frames_from_partials(written, bucket_seconds=fine_secs,
                                     frames=frames)
    bars.persist()  # one cascade execution feeds both write and count
    try:
        bars.write.mode("overwrite").parquet(f"{args.out}/bars")
        summary = {"mode": mode, "state_rows": written.count(),
                   "bars": bars.count()}
    finally:
        bars.unpersist()
    _emit(json.dumps(summary), args.output)
    return 0


def _run_pack(args, spark) -> int:
    """Sequence packing as a CLI: read documents, count tokens once,
    and either concat-and-chunk the token stream (``--mode chunk``) or
    greedy-pack whole documents into capacity bins (``--mode bins``).
    Writes the assignment table to <out>/packed and emits one JSON
    summary line with fill statistics."""
    from pyspark.sql import functions as F

    from dexscraper_spark.functions.textstats import token_count
    from dexscraper_spark.operators.packing import (
        chunk_token_stream, pack_greedy)

    if not args.docs or not args.out:
        print("pack: --docs and --out are required", file=sys.stderr)
        return 2
    mode = args.mode or "chunk"
    if mode not in ("chunk", "bins"):
        print("pack: --mode must be chunk or bins", file=sys.stderr)
        return 2
    docs = spark.read.parquet(args.docs).select(
        "doc_id", token_count(F.col("text")).cast("long")
        .alias("n_tokens"))
    if mode == "chunk":
        packed = chunk_token_stream(docs, max_tokens=args.max_tokens)
        group, fill = "chunk_id", F.sum(
            F.col("tok_end") - F.col("tok_start"))
    else:
        packed = pack_greedy(docs, max_tokens=args.max_tokens,
                             num_shards=args.num_shards)
        group, fill = "bin_id", F.sum(
            F.when(~F.col("oversize"), F.col("n_tokens")).otherwise(0))
    packed.persist()  # one execution feeds the write and both stats
    try:
        packed.write.mode("overwrite").parquet(f"{args.out}/packed")
        fills = packed.groupBy(group).agg(fill.alias("f"))
        stats = fills.agg(
            F.count(F.lit(1)).alias("units"),
            F.avg("f").alias("avg_fill")).first()
        summary = {
            "mode": mode, "max_tokens": args.max_tokens,
            "docs": docs.count(), "units": stats["units"],
            "avg_fill": round(float(stats["avg_fill"] or 0.0), 2),
        }
    finally:
        packed.unpersist()
    _emit(json.dumps(summary), args.output)
    return 0


def _run_zorder(args, spark) -> int:
    """Z-order lake maintenance as a CLI: full rewrite clusters --input
    on the Morton curve of --zorder-cols and stores the layout spec;
    --delta appends --input to an existing table using ITS stored cut
    points (the nightly shape). Emits one JSON summary line."""
    import json as _json

    from dexscraper_spark.sinks.lake import (
        append_zordered, write_zordered)

    if not args.input or not args.out:
        print("zorder: --input and --out are required", file=sys.stderr)
        return 2
    # out == input destroys data in BOTH modes: full mode's overwrite
    # deletes --out before the lazy read of --input completes (same
    # hazard class as curate's --state guard); delta mode would append
    # the table onto itself, silently doubling every row
    if os.path.realpath(args.input) == os.path.realpath(args.out):
        print("zorder: --out must differ from --input "
              + ("(self-append would duplicate every row)" if args.delta
                 else "(overwrite would destroy the input mid-read)"),
              file=sys.stderr)
        return 2
    if args.delta:
        cols = None  # the table's stored spec decides
    else:
        cols = [c.strip() for c in (args.zorder_cols or "").split(",")
                if c.strip()]
        if not 2 <= len(cols) <= 4:
            print("zorder: --zorder-cols wants 2-4 comma-separated "
                  "columns", file=sys.stderr)
            return 2

    try:
        df = spark.read.parquet(args.input)
        if args.delta:
            cols, bits = append_zordered(df, args.out,
                                         n_files=max(1, args.n_files // 4))
        else:
            from dexscraper_spark.sinks.lake import _z_bits
            bits = _z_bits(len(cols), args.bits)
            write_zordered(df, args.out, cols=cols, bits=bits,
                           n_files=args.n_files)
    except Exception as e:
        # AnalysisException (missing paths/spec) included — a CLI must
        # report and exit 2, not dump a JVM traceback
        print(f"zorder: {type(e).__name__}: {e}", file=sys.stderr)
        return 2
    summary = {"mode": "delta" if args.delta else "full",
               "cols": cols, "bits": bits,
               "rows": spark.read.parquet(args.out).count()}
    _emit(_json.dumps(summary), args.output)
    return 0


def _run_ann(args, spark) -> int:
    """IVF-PQ index maintenance as a CLI. --mode build: fit coarse
    quantizer + PQ codebooks on --vectors and publish the compressed
    index as the next version of the --index root (see ivf_pq_publish);
    --mode query: search the live version (writes JSON lines of
    (query_id, neighbor_id, cosine, rank)); --mode extend: assign and
    encode NEW vectors with the stored centroids/codebooks — append-
    only, rerun-idempotent, and self-repairing after a crash between
    the two table writes (see ivf_pq_extend_saved); --mode republish:
    recall-gated retrain on --vectors (the current corpus) + pointer
    publish — exits 1 without touching the artifact when the gate
    refuses (see ivf_pq_republish). Build and republish refuse a root
    holding a flat artifact at entry, before any Spark job (exit 2);
    query/extend still read it."""
    import json as _json

    from pyspark.sql import functions as F

    from dexscraper_spark.operators.quantize import (
        _refuse_flat, ivf_pq_encode, ivf_pq_extend_saved, ivf_pq_publish,
        ivf_pq_query_saved, ivf_pq_republish, pq_train)
    from dexscraper_spark.operators.similarity import ivf_build

    mode = args.mode or "build"
    if mode not in ("build", "query", "extend", "republish"):
        print("ann: --mode must be build, query, extend, or republish",
              file=sys.stderr)
        return 2
    if not args.index:
        print("ann: --index is required", file=sys.stderr)
        return 2
    if mode in ("build", "extend", "republish") and not args.vectors:
        print(f"ann {mode}: --vectors is required", file=sys.stderr)
        return 2
    if mode == "query" and not args.queries:
        print("ann query: --queries is required", file=sys.stderr)
        return 2
    try:
        if mode == "build":
            # refuse a flat root before the KMeans fit and codebook
            # training, not after them (ivf_pq_publish checks again)
            _refuse_flat(spark, args.index)
            vecs = (spark.read.parquet(args.vectors)
                    .select("vec_id", "embedding"))
            # infer the dimension from the data — a hardcoded 64 turns
            # a 128-dim corpus into an opaque 'empty training sample'
            [probe] = vecs.select(
                F.size("embedding").alias("d")).limit(1).collect()
            # cache=True: ivf_pq_save writes `assigned` AND the codes
            # derive from it — uncached, the KMeans transform would run
            # the full corpus twice
            index = ivf_build(vecs, nlist=args.nlist, cache=True)
            try:
                books = pq_train(vecs, dim=int(probe.d), m=args.pq_m,
                                 ksub=args.pq_ksub)
                codes = ivf_pq_encode(index, books)
                version = ivf_pq_publish(spark, index, books, codes,
                                         args.index)
            finally:
                index.unpersist()
            n = spark.read.parquet(
                f"{args.index}/{version}/codes").count()
            _emit(_json.dumps({"mode": "build", "indexed": n,
                               "nlist": args.nlist}), args.output)
        elif mode == "extend":
            new = (spark.read.parquet(args.vectors)
                   .select("vec_id", "embedding"))
            stats = ivf_pq_extend_saved(spark, args.index, new)
            _emit(_json.dumps({"mode": "extend",
                               "indexed": stats["indexed"]}),
                  args.output)
        elif mode == "republish":
            corpus = (spark.read.parquet(args.vectors)
                      .select("vec_id", "embedding"))
            res = ivf_pq_republish(
                spark, corpus, args.index, nlist=args.nlist,
                m=args.pq_m, ksub=args.pq_ksub, k=args.k,
                nprobe=args.nprobe, max_drop=args.max_drop,
                min_recall=args.min_recall)
            _emit(_json.dumps({"mode": "republish", **res}),
                  args.output)
            # a refused gate is a failed maintenance run for the
            # orchestrator, not a silent success
            return 0 if res["published"] else 1
        else:
            queries = (spark.read.parquet(args.queries)
                       .select("vec_id", "embedding"))
            out = ivf_pq_query_saved(spark, args.index, queries,
                                     k=args.k, nprobe=args.nprobe)
            lines = [_json.dumps({"query_id": r.query_id,
                                  "neighbor_id": r.neighbor_id,
                                  "cosine": r.cosine, "rank": r.rank})
                     for r in out.collect()]
            _emit("\n".join(lines), args.output)
    except Exception as e:
        print(f"ann: {type(e).__name__}: {e}", file=sys.stderr)
        return 2
    return 0


def _run_stream(args, spark) -> int:
    """The reference's ``stream_pairs`` loop (scraper.py:1491-1524) on the
    real Structured Streaming path: dexframes source (subscription-time
    filter pushdown) → decode → per-micro-batch top-N → JSONL on stdout.
    Demo-bounded by ``--frames`` (availableNow drains the bounded source
    and terminates, the CLI's one-shot contract); drop ``max_frames`` and
    the same query runs the reference's endless 5 s cadence via
    ``trigger(processingTime='5 seconds')``.
    """
    import dataclasses

    from pyspark.sql import functions as F
    from dexscraper_spark.streaming.pipeline import (
        frame_stream, run_foreach_batch)

    cfg = apply_filter_flags(PRESETS["trending"](args), args)
    fspec = {k: v for k, v in dataclasses.asdict(cfg.filters).items()
             if v not in (None, [], ())}
    decoded = frame_stream(spark, max_frames=max(args.frames, 1),
                           filters=fspec)
    out: list[str] = []

    def sink(df, batch_id: int) -> None:
        rows = (df.orderBy(F.col("volume_h24").desc_nulls_last(),
                           F.col("pair_address").asc_nulls_last())
                .limit(args.limit).collect())
        for r in rows:
            out.append(json.dumps({
                "batch": batch_id, "symbol": r["base_token_symbol"],
                "price": r["price_usd"], "volume_24h": r["volume_h24"],
                "liquidity": r["liquidity_usd"], "chain": r["chain"],
            }))

    q = run_foreach_batch(decoded, sink, once=args.once)
    if args.once:
        q.awaitTermination()
    else:
        try:
            q.awaitTermination()
        except KeyboardInterrupt:
            q.stop()
    _emit("\n".join(out), args.output)
    return 0


if __name__ == "__main__":
    raise SystemExit(run())
