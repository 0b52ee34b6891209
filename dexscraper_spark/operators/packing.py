"""Sequence packing — turning curated documents into fixed-token
training rows, the step after curation in an LLM data pipeline.

Two standard modes, both deterministic at any parallelism:

* :func:`chunk_token_stream` — concat-and-chunk: documents concatenate
  (in a total order) into one logical token stream that is cut every
  ``max_tokens``; documents may span chunk boundaries. Pure DataFrame
  arithmetic over a DISTRIBUTED prefix sum — no single-partition window
  (the classic ``Window.orderBy`` global cumsum funnels the whole table
  through one reducer; here partition-local cumsums get per-partition
  offsets computed from a partition-count-sized aggregate, the standard
  two-phase prefix-sum).
* :func:`pack_greedy` — first-fit-sequential bin packing WITHOUT
  splitting documents: each document lands in exactly one bin of
  capacity ``max_tokens``. Inherently sequential, so it shards first
  (hash of the id) and packs each shard independently in one Arrow
  batch pass — the 100 TB shape: shards are independent, bins never
  cross shards, and packing cost is linear in shard size.

Both take a precomputed ``size_col`` (token counts from
``functions.textstats.token_count`` / ``bpe_ish_token_count``) so the
expensive text pass runs once upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def _with_stream_end(docs: DataFrame, *, size_col: str, order_col: str,
                     num_partitions: int | None) -> DataFrame:
    """Distributed prefix sum: adds ``__end`` = cumulative ``size_col``
    over the total order ``order_col`` (exclusive start is
    ``__end - size``). Range-repartition by the order key, cumsum
    within each partition, then shift every partition by the running
    total of the partitions before it — the offsets table is one row
    per partition (collected and broadcast back), never data-sized.

    The local cumsum is a partition-local Arrow pass (``mapInPandas``
    carrying a running total across the partition's batches), NOT a
    ``Window.partitionBy(pid)``: the Window would hash-shuffle the
    whole table a second time because Catalyst can't see that ``pid``
    already IS the physical partitioning. One range shuffle total."""
    import pandas as pd

    spark = docs.sparkSession
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    d = (docs.repartitionByRange(num_partitions, F.col(order_col))
         .sortWithinPartitions(order_col)
         .withColumn("__pid", F.spark_partition_id()))
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in d.schema.fields
    ) + ", __local_end long"

    def cumsum(batches):
        run = 0
        for pdf in batches:
            ends = pdf[size_col].astype("int64").cumsum() + run
            if len(ends):
                run = int(ends.iloc[-1])
            yield pdf.assign(__local_end=ends)

    from dexscraper_spark.persist import tracked_persist

    # consumed twice (offsets collect + the final join): pin it so the
    # range shuffle and cumsum run once; clear_plan_cache() releases
    local = tracked_persist(d.mapInPandas(cumsum, schema=out_schema))
    totals = sorted(
        (r["__pid"], r["t"]) for r in
        local.groupBy("__pid").agg(F.max("__local_end").alias("t"))
        .collect())
    running, offsets = 0, []
    for pid, t in totals:
        offsets.append((pid, running))
        running += t
    off = spark.createDataFrame(offsets, "__pid int, __off long")
    return (local.join(broadcast(off), "__pid")
            .withColumn("__end", F.col("__local_end") + F.col("__off"))
            .drop("__pid", "__local_end", "__off"))


def chunk_token_stream(docs: DataFrame, *, id_col: str = "doc_id",
                       size_col: str = "n_tokens",
                       order_col: str | None = None,
                       max_tokens: int = 2048,
                       num_partitions: int | None = None) -> DataFrame:
    """Concat-and-chunk packing: cut the concatenated token stream every
    ``max_tokens``, letting documents span boundaries.

    Returns one row per (document × chunk it overlaps):
    (chunk_id, id, tok_start, tok_end) with ``[tok_start, tok_end)``
    the document-local token slice belonging to that chunk. Invariants
    (pinned by test): every chunk except the last holds exactly
    ``max_tokens`` tokens; every document's tokens are covered exactly
    once, in order.

    ``order_col`` (default: the id) must be a TOTAL order — ties would
    make the stream, and therefore every chunk boundary,
    layout-dependent. Zero-size documents contribute nothing and are
    dropped. The only shuffles are the range repartition and the
    chunk-count-sized output; the boundary-spanning explode is
    map-side.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    order_col = order_col or id_col
    cap = F.lit(int(max_tokens))
    d = _with_stream_end(
        docs.filter(F.col(size_col) > 0).select(id_col, size_col)
        if order_col == id_col else
        docs.filter(F.col(size_col) > 0).select(id_col, size_col,
                                                order_col),
        size_col=size_col, order_col=order_col,
        num_partitions=num_partitions)
    start = F.col("__end") - F.col(size_col)
    first = F.floor(start / cap)
    last = F.floor((F.col("__end") - 1) / cap)
    return (
        d.select(
            F.col(id_col), F.col(size_col), start.alias("__start"),
            F.explode(F.sequence(first, last)).alias("chunk_id"))
        .select(
            "chunk_id", id_col,
            F.greatest(F.lit(0), F.col("chunk_id") * cap
                       - F.col("__start")).alias("tok_start"),
            F.least(F.col(size_col), (F.col("chunk_id") + 1) * cap
                    - F.col("__start")).alias("tok_end"))
    )


def pack_greedy(docs: DataFrame, *, id_col: str = "doc_id",
                size_col: str = "n_tokens", max_tokens: int = 2048,
                num_shards: int = 64,
                order_col: str | None = None) -> DataFrame:
    """First-fit-sequential bin packing without splitting documents.

    Shards by ``xxhash64(id) % num_shards``, then packs each shard
    independently: documents in ``order_col`` order (default: id)
    accumulate into the current bin until the next one would overflow
    ``max_tokens``, which closes the bin. A document larger than the
    capacity gets a bin of its own, flagged ``oversize``.

    Returns (id, size, shard, bin_id, oversize); ``bin_id`` is globally
    unique (``shard * 2^40 + local``). Deterministic under any input
    partitioning (pinned by test): order within a shard depends only on
    the data. Bins never cross shards, so shards pack in parallel and a
    delta batch can pack into FRESH shards without touching old ones —
    the same append-only discipline as the rest of the engine's nightly
    ops. Waste vs the chunked mode is the padding a no-split policy
    pays; measure with the returned sizes.

    Memory shape: each shard materializes as one pandas frame of
    (id, size, order) rows — ~tens of bytes per DOC, not per token —
    so size ``num_shards`` to keep rows-per-shard in the 10⁷ range
    (e.g. 10¹⁰ docs → ≥1 000 shards); the default 64 suits corpora up
    to ~10⁹ docs. Negative sizes raise; zero-size docs join the current
    bin (never an oversize doc's flagged bin).
    """
    import pandas as pd

    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    order_col = order_col or id_col
    cols = [id_col, size_col] + ([order_col] if order_col != id_col
                                 else [])
    sharded = docs.select(*cols).withColumn(
        "shard", (F.pmod(F.xxhash64(F.col(id_col)),
                         F.lit(num_shards))).cast("int"))
    cap = int(max_tokens)

    # id/size keep their INPUT types (string/uuid ids are the common
    # case for documents) — only the appended columns are fixed
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in docs.select(id_col, size_col).schema.fields
    ) + ", shard int, bin_id long, oversize boolean"

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        shard = int(pdf["shard"].iloc[0])
        bins, fill, local = [], 0, -1
        oversize = []
        for n in pdf[size_col]:
            n = int(n)
            if n < 0:
                raise ValueError(f"negative {size_col}: {n}")
            if n > cap:
                local += 1          # oversize doc: its own flagged bin
                bins.append(local)
                oversize.append(True)
                fill = cap + 1      # cap+1, not cap: a zero-size doc
                continue            # must not join the flagged bin
            if local < 0 or fill + n > cap:
                local += 1
                fill = 0
            bins.append(local)
            oversize.append(False)
            fill += n
        return pd.DataFrame({
            id_col: pdf[id_col],
            size_col: pdf[size_col],
            "shard": shard,
            "bin_id": [shard * (1 << 40) + b for b in bins],
            "oversize": oversize,
        })

    return sharded.groupBy("shard").applyInPandas(pack, schema=schema)
