"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run generates its inputs from the seed
under ``.perfbench_out/``, sets the engine up SETUPS times (timed; each ends
with an untimed warm pass), runs the whole passes of the workload's op list
that take about ``--seconds`` at its reference pace, checks every op's
result outside the timed window, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of BENCHMARK.json from a traced run. The full run record (stamps,
per-op and per-query detail, spans) is written to
``.perfbench_out/<workload>-seed<n>-trace<t>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

THREADS = 2        # SPARK_GRAFT_CPUS for every run (see reference.json)
SETUPS = 3         # set-ups per run; setup_s is the median of their
                   # unstolen times (probes.unstolen)
QUIET_WAIT_S = 8.0  # longest wait for a saturated host before set-up
CONF_KEYS = ("spark.master", "spark.driver.memory", "spark.sql.adaptive.enabled",
             "spark.sql.adaptive.coalescePartitions.enabled",
             "spark.sql.adaptive.skewJoin.enabled",
             "spark.sql.shuffle.partitions",
             "spark.sql.execution.arrow.pyspark.enabled",
             "spark.sql.session.timeZone",
             "spark.sql.autoBroadcastJoinThreshold")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work_dir: str) -> None:
    """Pin the thread count and keep every scratch file inside the run's
    work directory; Python workers import the program from the checkout."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(THREADS)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    import tempfile
    tempfile.tempdir = tmp


def _source_stamp() -> dict:
    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "dexscraper_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        res = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
        commit = res.stdout.strip() or None
    return {"commit": commit, "source_sha256": digest.hexdigest()}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _stop_jvm(spark) -> int:
    """Stop Spark and its JVM, wait for the JVM and every process it started
    to exit, and return the JVM's exit code."""
    import probes
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    started = probes.child_pids()
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    code = gateway.proc.wait(timeout=60)
    left = probes.wait_gone(started)
    if left:
        raise RuntimeError(f"processes still running after stop: {sorted(left)}")
    return code


class Run:
    def __init__(self, args):
        from probes import Tracer
        from workloads import WORKLOADS
        self.args = args
        self.tracer = Tracer(enabled=bool(args.trace))
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        self.work_dir = os.path.join(
            self.out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}"
            f"-{os.getpid()}")
        self.workload_cls = WORKLOADS[args.workload]
        self.ops: list = []
        self.setup_s: list[float] = []
        self.setup_wall_s: list[float] = []
        self.stamps: dict = {}

    def setup(self, wl):
        """SETUPS set-ups in this process: refresh the program's caches and
        drop cached tables, open the session (the first set-up launches the
        JVM), load and cache the tables, start the workload and run its
        untimed warm pass. Returns the session."""
        import probes
        from dexscraper_spark.plans.registry import clear_plan_cache
        from dexscraper_spark.session import get_spark
        from dexscraper_spark.sources.tables import load_table
        tr = self.tracer
        spark = None
        for k in range(SETUPS):
            if spark is not None:
                spark.catalog.clearCache()
            t0, ticks = time.perf_counter(), probes.cpu_ticks()
            with tr.span("setup", n=k):
                with tr.span("persist.refresh"):
                    clear_plan_cache()
                with tr.span("session.get_spark"):
                    spark = get_spark(f"perfbench-{wl.name}")
                    spark.sparkContext.setLogLevel("ERROR")
                with tr.span("sources.load_tables"):
                    for t in wl.tables:
                        with tr.span("sources.load_table", table=t):
                            load_table(spark, wl.sf_dir, t).cache().count()
                wl.start(spark)
                self.ops += wl.warm()
            wall = time.perf_counter() - t0
            self.setup_wall_s.append(wall)
            self.setup_s.append(probes.unstolen(
                wall, probes.steal_pct(ticks, probes.cpu_ticks())))
        return spark

    def execute(self) -> dict:
        import probes
        from pyspark import SparkContext
        args = self.args
        ncpu = os.cpu_count() or 1
        self.stamps.update(
            workload=args.workload, seed=args.seed, seconds=args.seconds,
            trace=args.trace, threads=THREADS, ncpu=ncpu, **_source_stamp())
        self.stamps["quiet_wait"] = probes.wait_for_quiet(QUIET_WAIT_S, ncpu)
        self.stamps["load1_start"] = probes.load1()
        self.stamps["calib_ms_start"] = probes.calibration_ms()

        wl = self.workload_cls(self.work_dir, args.seed, self.tracer)
        wl.generate()
        spark = self.setup(wl)
        jvm_pid = SparkContext._gateway.proc.pid
        self.stamps["conf"] = {k: spark.conf.get(k, None) for k in CONF_KEYS}

        t0, ticks = time.perf_counter(), probes.cpu_ticks()
        ops = wl.measure(args.seconds)
        self.stamps["window_s"] = time.perf_counter() - t0
        self.stamps["steal_pct"] = probes.steal_pct(ticks, probes.cpu_ticks())
        self.ops += ops
        timed = [o for o in ops if o.pass_no >= 0]

        t0 = time.perf_counter()
        problems = wl.check(self.ops)
        self.stamps["check_s"] = time.perf_counter() - t0
        self.stamps["peak_rss_mb"] = (probes.vm_hwm_mb(jvm_pid)
                                      + probes.vm_hwm_mb(os.getpid()))
        layers: dict = {}
        if self.tracer.enabled:
            cached = probes.cached_mb(spark)
            if hasattr(wl, "isolated_decode"):
                wl.isolated_decode(timed)
            layers = self.layers(spark, timed, getattr(wl, "progress", []),
                                 cached)
        self.stamps["jvm_exit"] = _stop_jvm(spark)
        self.stamps["calib_ms_end"] = probes.calibration_ms()
        self.stamps["load1_end"] = probes.load1()

        passes = self.passes(timed)
        cycle_s = [sum(o.ms for o in p) / 1000 for p in passes]
        cycle_unstolen_s = [sum(o.unstolen_ms for o in p) / 1000
                            for p in passes]
        metrics = {
            "setup_s": _median(self.setup_s),
            "op_unstolen_ms_p50": _median([o.unstolen_ms for o in timed]),
            "cycle_unstolen_s": _median(cycle_unstolen_s),
            "op_ms_p50": _median([o.ms for o in timed]),
            "cycle_s": _median(cycle_s),
            "rows_per_s": _median([sum(o.rows for o in p) / s
                                   for p, s in zip(passes, cycle_s)]),
            **layers,
        }
        failed = sum(1 for o in self.ops if not o.ok)
        record = {
            "stamps": self.stamps,
            "setup_s_each": self.setup_s,
            "setup_wall_s_each": self.setup_wall_s,
            "cycle_s_each": cycle_s,
            "cycle_unstolen_s_each": cycle_unstolen_s,
            "op_ms_each": [(o.name, o.ms, o.steal_pct) for o in timed],
            "metrics": metrics,
            "per_query_ms": {
                name: _median([o.ms for o in timed if o.name == name])
                for name in sorted({o.name for o in timed})},
            "problems": problems,
            "spans": self.tracer.spans,
        }
        with open(os.path.join(
                self.out_dir, f"{args.workload}-seed{args.seed}"
                f"-trace{args.trace}.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)
        bench = _benchmark()
        shown = bench["per_layer" if args.trace else "end_to_end"]
        return {"correct": failed == 0 and not problems,
                "attempted": len(self.ops), "failed": failed,
                "metrics": {m["name"]: {"value": metrics[m["name"]],
                                        "unit": m["unit"]} for m in shown}}

    @staticmethod
    def passes(timed) -> list[list]:
        """The complete timed passes; a pass cut short by a failed op is
        left out."""
        by: dict = {}
        for o in timed:
            by.setdefault(o.pass_no, []).append(o)
        full = max(map(len, by.values()))
        return [p for p in by.values() if len(p) == full]

    def layers(self, spark, timed, progress, cached_mb) -> dict:
        """Per-layer metrics of the traced run. Times are medians over timed
        ops; exact counts come from the first timed pass, which is the same
        op list on every run with the seed."""
        import probes
        tr = self.tracer
        first = [o for o in timed if o.pass_no == 0]
        t0, first_end = first[0].start, first[-1].end
        work = probes.spark_work(spark, [(o.start, o.end) for o in timed])

        def per_op(key):
            return [sum(r[key] for r in progress if o.start <= r["t"] <= o.end)
                    for o in timed]

        def first_pass_mean(values):
            return sum(values[:len(first)]) / len(first)

        def in_first(name):
            return [s for s in tr.spans if s["name"] == name
                    and t0 <= s["start"] <= first_end]

        first_files = {getattr(o, "file_idx", None) for o in first}
        decoded = [s["rows"] for s in tr.spans if s["name"] == "sources.decode"
                   and s["file"] in first_files]
        exports = [s for s in tr.spans if s["name"] == "sinks.export"
                   and s["start"] >= t0]
        metrics = {
            "session.get_spark_s": tr.durations_ms("session.get_spark")[0] / 1000,
            "sources.load_table_s":
                _median(tr.durations_ms("sources.load_tables")) / 1000,
            "sources.decode_ms_per_batch":
                _median(tr.durations_ms("sources.decode", since=t0)),
            "sources.decoded_rows_per_batch":
                sum(decoded) / len(decoded) if decoded else 0,
            "plans.build_ms": _median(tr.durations_ms("plans.build", since=t0)),
            "plans.execute_ms": _median(tr.durations_ms("plans.execute", since=t0)),
            "plans.result_rows": sum(s["rows"] for s in in_first("plans.execute")),
            "persist.refresh_ms": _median(tr.durations_ms("persist.refresh")),
            "persist.cached_mb": cached_mb,
            "streaming.trigger_ms": _median(per_op("trigger_ms")),
            "streaming.add_batch_ms": _median(per_op("add_batch_ms")),
            "streaming.planning_ms": _median(per_op("planning_ms")),
            "streaming.commit_ms": _median(per_op("commit_ms")),
            "streaming.state_rows": first_pass_mean(per_op("state_rows")),
            "streaming.state_commit_ms": _median(per_op("state_commit_ms")),
            "sinks.export_ms": _median([(s["end"] - s["start"]) * 1000
                                        for s in exports]),
            "sinks.lines_out": sum(s["lines"] for s in in_first("sinks.export")),
            "spark.jobs_per_op": first_pass_mean([w["jobs"] for w in work]),
            "spark.stages_per_op": first_pass_mean([w["stages"] for w in work]),
            "spark.tasks_per_op": first_pass_mean([w["tasks"] for w in work]),
            "spark.task_run_ms": _median([w["task_run_ms"] for w in work]),
            "spark.task_cpu_ms": _median([w["task_cpu_ms"] for w in work]),
            "spark.gc_ms": _median([w["gc_ms"] for w in work]),
            "spark.shuffle_bytes": _median([w["shuffle_bytes"] for w in work]),
            "spark.driver_residual_ms":
                _median([w["driver_residual_ms"] for w in work]),
            "host.calib_ms_start": self.stamps["calib_ms_start"],
            "host.calib_ms_end": probes.calibration_ms(),
            "host.load1_start": self.stamps["load1_start"],
            "host.steal_pct": self.stamps["steal_pct"],
            "host.quiet_wait_s": self.stamps["quiet_wait"]["wait_s"],
            "peak_rss_mb": self.stamps["peak_rss_mb"],
        }
        return metrics


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = _args(argv)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import dexscraper_spark  # noqa: F401  (no program, no result)
    run = Run(args)
    os.makedirs(run.work_dir)
    _environment(run.work_dir)
    try:
        result = run.execute()
    finally:
        shutil.rmtree(run.work_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
