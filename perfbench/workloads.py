"""The workloads. Each drives the program only through its public functions:
``plans.registry`` builders, ``sources.tables.load_table``,
``sources.decode.decode_messages``,
``streaming.pipeline.streaming_ohlc``/``run_foreach_batch`` and
``sinks.exporters``.

A workload has a fixed op list; one pass covers it once. ``warm()`` runs
one untimed pass per set-up, ``measure(seconds)`` runs the whole timed
passes (ops with ``pass_no >= 0``) that take about that long at the
workload's reference pace ``PASS_S``, and ``check(ops)`` compares
every op's result with a reference after the timed window. All are closed
loops with one client.

The timed work is fixed by ``--seconds``, not cut off by the clock: the
engine is still compiling hot code while it is timed, so an op's time
depends on how many ops ran before it, and a run that stops on the clock
would stop at a different point on a slower host.
"""

from __future__ import annotations

import os
import random
import time

import generate
import probes


class Op:
    """One timed call and what it returned (checked later). ``rows`` is the
    pair rows a feed batch decoded; ``steal_pct`` the share of the
    machine's wanted CPU time the hypervisor stole while it ran."""

    def __init__(self, name: str, pass_no: int):
        self.name = name
        self.pass_no = pass_no
        self.start = self.end = 0.0
        self.error: str | None = None
        self.result = None
        self.rows = 0
        self.steal_pct = 0.0
        self.ok: bool | None = None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000

    @property
    def unstolen_ms(self) -> float:
        return probes.unstolen(self.ms, self.steal_pct)


# ---------------------------------------------------------------------------
# warm_queries: registry rows over the seeded tables
# ---------------------------------------------------------------------------

class WarmQueries:
    """Ranked, joined, windowed and aggregated rows served from the
    prepared-plan cache: fixed per-query cost (planning, jobs, fetch). Each
    op builds one registry row and fetches it to the driver.

    Seven of the fifty registry rows: a top-k, the job-heavy join and set
    plans, a session window, a decode row, a pandas UDF and a vector top-k.
    All fifty do not fit the run budget at two threads (a cold pass alone
    takes about 55 s), and dedup_minhash_lsh is left out because its DuckDB
    oracle takes about 14 s per check."""

    name = "warm_queries"
    PASS_S = 2.5  # wall seconds of a timed pass, 2 threads, 4-vCPU VM
    names = ("flagship_topk_revenue", "join_revenue_by_nation", "set_ops",
             "sessionize_users", "decode_binary_pipeline", "text_metrics",
             "similarity_topk")
    # loaded and cached by every set-up (sources.load_table_s)
    tables = ("customer", "documents", "embeddings", "events", "lineitem",
              "nation", "orders", "region")

    def __init__(self, work_dir: str, seed: int, tracer):
        self.sf_dir = os.path.join(work_dir, "tables")
        self.seed = seed
        self.tracer = tracer
        self.rng = random.Random(seed)

    def generate(self):
        generate.write_tables(self.sf_dir, self.seed)

    def start(self, spark):
        from dexscraper_spark.plans.registry import queries
        self.spark = spark
        self.queries = queries()

    def _pass(self, pass_no: int) -> list[Op]:
        names = list(self.names)
        self.rng.shuffle(names)
        return [self._op(name, pass_no) for name in names]

    def _op(self, name: str, pass_no: int) -> Op:
        tr = self.tracer
        op = Op(name, pass_no)
        ticks = probes.cpu_ticks()
        with tr.span("op", op=name, pass_no=pass_no):
            op.start = time.time()
            try:
                with tr.span("plans.build", query=name):
                    df = self.queries[name](self.spark, self.sf_dir)
                with tr.span("plans.execute", query=name) as sp:
                    rows = df.collect()
                    if sp is not None:
                        sp["rows"] = len(rows)
                op.result = (df.columns, [tuple(r) for r in rows])
            except Exception as e:  # counted as a failed op, run continues
                op.error = f"{type(e).__name__}: {e}"
                return op
            finally:
                op.end = time.time()
                op.steal_pct = probes.steal_pct(ticks, probes.cpu_ticks())
        return op

    def warm(self) -> list[Op]:
        return self._pass(-1)

    def measure(self, seconds: float) -> list[Op]:
        ops: list[Op] = []
        for pass_no in range(max(2, round(seconds / self.PASS_S))):
            ops += self._pass(pass_no)
        return ops

    def check(self, ops: list[Op]) -> list[str]:
        """Compare every op's rows with the DuckDB oracle over the same
        tables (one oracle query per distinct row)."""
        from tools.check_oracle import duck_con, normalize, values_equal
        from dexscraper_spark.plans.registry import oracle_sql
        sql = oracle_sql()
        con = duck_con(self.sf_dir)
        expected = {}
        problems = []
        for op in ops:
            if op.error is not None:
                op.ok = False
                problems.append(f"{op.name} (pass {op.pass_no}): {op.error}")
                continue
            if op.name not in expected:
                res = con.execute(sql[op.name])
                cols = [d[0] for d in res.description]
                expected[op.name] = normalize(res.fetchall(), cols)
            exp_rows, exp_cols = expected[op.name]
            got_rows, got_cols = normalize(op.result[1], op.result[0])
            op.ok = (got_cols == exp_cols and len(got_rows) == len(exp_rows)
                     and all(values_equal(a, b)
                             for gr, er in zip(got_rows, exp_rows)
                             for a, b in zip(gr, er)))
            if not op.ok:
                problems.append(f"{op.name} (pass {op.pass_no}) differs "
                                "from the oracle")
            op.result = None
        con.close()
        return problems


# ---------------------------------------------------------------------------
# feed_replay: seeded wire frames through decode → streaming OHLC → export
# ---------------------------------------------------------------------------

class FeedReplay:
    """The live-feed path as one client replays it: frame files are
    published, then ``run_foreach_batch(..., once=True)`` runs the stream
    until every published file is processed, one file per micro-batch
    (``maxFilesPerTrigger=1``). Each op is one data batch, timed from the
    end of the previous batch's sink call to the end of its own; the first
    batch after a start carries the query start and is untimed. The sink
    fetches the closed bars and exports them as CSV lines and the latest-N
    rows."""

    name = "feed_replay"
    tables: tuple[str, ...] = ()
    sf_dir = None
    ops_per_pass = 2
    PASS_S = 2.5  # wall seconds of a timed pass, 2 threads, 4-vCPU VM
    warm_files = 3
    top_n = 10

    def __init__(self, work_dir: str, seed: int, tracer):
        self.gen = generate.FeedGenerator(seed)
        self.tracer = tracer
        self.in_dir = os.path.join(work_dir, "stream", "in")
        self.ckpt = os.path.join(work_dir, "stream", "ckpt")
        self.files: dict[int, list] = {}
        self.paths: dict[int, str] = {}
        self.progress: list[dict] = []

    def generate(self):
        os.makedirs(self.in_dir)  # files are written before each stream run

    def start(self, spark):
        """Build the stream over the run's one input directory; every stream
        run resumes the same checkpoint, so state carries over."""
        from pyspark.sql import functions as F
        from dexscraper_spark.schemas import RAW_MESSAGES
        from dexscraper_spark.sources.decode import decode_messages
        from dexscraper_spark.streaming.pipeline import streaming_ohlc

        self.spark = spark
        raw = (spark.readStream.schema(RAW_MESSAGES)
               .option("maxFilesPerTrigger", 1).parquet(self.in_dir))
        decoded = decode_messages(raw).withColumn(
            "event_ts", F.timestamp_seconds("created_at"))
        self.bars = streaming_ohlc(decoded, ts_col="event_ts")

    def _publish(self, n: int) -> list[int]:
        """Write the next n frame files, each with a later modification time
        than the last, so the source takes them in order."""
        first = len(self.files)
        for i in range(first, first + n):
            staged = os.path.join(self.in_dir, f".f{i:05d}.parquet")
            self.files[i] = self.gen.write_file(i, staged)
            self.paths[i] = os.path.join(self.in_dir, f"f{i:05d}.parquet")
            os.rename(staged, self.paths[i])
            os.utime(self.paths[i], (1_700_000_000 + i,) * 2)
        return list(range(first, first + n))

    def _sink(self, batch_df, batch_id):
        from dexscraper_spark.sinks.exporters import (
            bounded_latest, csv_ohlcv_lines)
        tr = self.tracer
        batch_df.persist()
        try:
            bars = [tuple(r) for r in batch_df.collect()]
            with tr.span("sinks.export") as sp:
                rows = batch_df.withColumnRenamed("bucket_ts", "ts")
                lines = csv_ohlcv_lines(rows).collect()
                bounded_latest(rows, order_col="ts", top_n=self.top_n).collect()
                if sp is not None:
                    sp["lines"] = len(lines)
        finally:
            batch_df.unpersist()
        self.batches.append({"batch_id": batch_id, "bars": bars,
                             "lines": len(lines), "end": time.time(),
                             "ticks": probes.cpu_ticks()})

    def _run(self, files: list[int]) -> list[Op]:
        """One stream run over the just-published files: an op per data
        batch, in file order; a trailing no-data batch's bars (windows its
        watermark closed) go to the last op."""
        from dexscraper_spark.streaming.pipeline import run_foreach_batch
        self.batches = []
        prev_ticks, prev_end = probes.cpu_ticks(), time.time()
        q = run_foreach_batch(self.bars, self._sink, checkpoint=self.ckpt,
                              once=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [probes.progress_record(p) for p in q.recentProgress]
        self.progress += progress
        input_rows = {p["batch_id"]: p["input_rows"] for p in progress}
        ops = []
        for b in self.batches:
            if not input_rows.get(b["batch_id"]) and ops:
                ops[-1].result.append(b)
                continue
            op = Op("batch", -1)
            op.start, op.end, prev_end = prev_end, b["end"], b["end"]
            op.steal_pct = probes.steal_pct(prev_ticks, b["ticks"])
            prev_ticks = b["ticks"]
            op.file_idx = files[len(ops)] if len(ops) < len(files) else None
            op.rows = sum(map(len, self.files.get(op.file_idx, ())))
            op.result = [b]
            ops.append(op)
        if len(ops) != len(files):
            ops[-1].error = f"{len(ops)} data batches for {len(files)} files"
        return ops

    def warm(self) -> list[Op]:
        return self._run(self._publish(self.warm_files))

    def measure(self, seconds: float) -> list[Op]:
        """The passes of ``seconds`` at the reference pace; one more file
        for the untimed first batch."""
        n = self.ops_per_pass * max(2, round(seconds / self.PASS_S))
        ops = self._run(self._publish(n + 1))
        for k, op in enumerate(ops[1:]):
            op.pass_no = k // self.ops_per_pass
        return ops

    def isolated_decode(self, ops: list[Op]):
        """Traced runs only: decode each timed op's file alone, after the
        timed window."""
        from dexscraper_spark.sources.decode import decode_messages
        for op in ops:
            with self.tracer.span("sources.decode", file=op.file_idx) as sp:
                sp["rows"] = decode_messages(
                    self.spark.read.parquet(self.paths[op.file_idx])).count()

    def check(self, ops: list[Op]) -> list[str]:
        """Every emitted bar equals the plain-Python OHLC of the generated
        pairs; every window the watermark closed before the last file was
        emitted, exactly once."""
        ref = generate.reference_bars(self.files)
        seen: set = set()
        problems = []
        for op in ops:
            op.ok = op.error is None
            for batch in op.result or ():
                for symbol, bucket, *vals in batch["bars"]:
                    key = (symbol, int(bucket.timestamp()))
                    if key in seen or ref.get(key) != tuple(vals):
                        op.ok = False
                    seen.add(key)
            if not op.ok:
                problems.append(f"feed batch of file {op.file_idx}: "
                                f"{op.error or 'a wrong or repeated bar'}")
        closed_by = (generate.FEED_T0 + max(self.files)
                     * generate.FRAMES_PER_FILE * generate.FRAME_STEP_S - 600)
        missing = [k for k in ref if k[1] + generate.BAR_SECONDS <= closed_by
                   and k not in seen]
        if missing:
            problems.append(f"{len(missing)} closed bars never emitted")
            ops[-1].ok = False
        return problems


WORKLOADS = {w.name: w for w in (WarmQueries, FeedReplay)}
