"""Measurement helpers: host-state guard and stamps, in-memory spans, Spark
work per op read from the status store, and streaming progress reports.

All of it observes the program from outside, through its public functions
and Spark's own status APIs; nothing here changes how the program runs.
"""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from contextlib import contextmanager


# ---------------------------------------------------------------------------
# Host state
# ---------------------------------------------------------------------------

def load1() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, wanted) CPU ticks from /proc/stat. Steal is time the
    hypervisor gave this machine's CPUs to other guests while they had work;
    wanted is the time they had work (user, nice, system, irq, softirq and
    steal)."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[0:3]) + sum(fields[5:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of the wanted CPU time between two readings that was stolen."""
    wanted = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / wanted if wanted else 0.0


def unstolen(elapsed: float, steal: float) -> float:
    """``elapsed`` wall time less the share ``steal`` (%) of the machine's
    wanted CPU time that the hypervisor stole meanwhile: what the work would
    have taken had no CPU time been stolen. Other guests on the host steal
    from 0 to about half of it, and a run's wall time follows."""
    return elapsed * (1 - steal / 100)


def wait_for_quiet(max_wait_s: float, ncpu: int) -> dict:
    """Wait up to ``max_wait_s`` while the 1-minute load says the host is
    saturated (load1 >= ncpu). Returns the seconds waited and whether the
    host was quiet when the wait ended."""
    t0 = time.perf_counter()
    while True:
        quiet = load1() < ncpu
        waited = time.perf_counter() - t0
        if quiet or waited >= max_wait_s:
            return {"wait_s": waited, "quiet": quiet}
        time.sleep(0.5)


def calibration_ms(reps: int = 5) -> float:
    """Median ms of a fixed pure-Python loop: a host-speed stamp that tells
    host drift apart from a program change."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def child_pids() -> set[int]:
    """Every process under this one (the JVM and its Python workers)."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        parent[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
    tree, stack = set(), [os.getpid()]
    while stack:
        pid = stack.pop()
        kids = [p for p, pp in parent.items() if pp == pid]
        tree.update(kids)
        stack += kids
    return tree


def wait_gone(pids: set[int], timeout_s: float = 30.0) -> set[int]:
    """Wait until none of ``pids`` is alive; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = {p for p in pids if os.path.exists(f"/proc/{p}")}
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent, attrs) kept in memory and written out
    when the run ends. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": next(self._ids), "name": name,
               "parent": getattr(self._local, "current", None),
               "start": time.time(), "end": None, **attrs}
        self._local.current = rec["id"]
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._local.current = rec["parent"]
            self.spans.append(rec)

    def durations_ms(self, name: str, since: float = 0.0) -> list[float]:
        return [(s["end"] - s["start"]) * 1000 for s in self.spans
                if s["name"] == name and s["start"] >= since]


# ---------------------------------------------------------------------------
# Spark work per op, from the status store
# ---------------------------------------------------------------------------

def _opt_ms(opt):
    return opt.get().getTime() if opt.isDefined() else None


def _union_ms(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def spark_work(spark, windows: list[tuple[float, float]]) -> list[dict]:
    """Jobs, stages, tasks and task metrics per op window (epoch seconds).

    Jobs are attributed to the window their submission falls in: the
    benchmark is a single closed-loop client, so every job submitted while
    an op runs belongs to that op. ``driver_residual_ms`` is the op's wall
    time minus the union of its stages' active intervals."""
    from py4j.protocol import Py4JJavaError
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = store.jobsList(None)
    per_op = [{"jobs": 0, "stages": 0, "tasks": 0, "task_run_ms": 0.0,
               "task_cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_bytes": 0,
               "_iv": []} for _ in windows]
    starts = [w[0] * 1000 for w in windows]
    ends = [w[1] * 1000 for w in windows]
    for j in range(jobs.size()):
        job = jobs.apply(j)
        sub = _opt_ms(job.submissionTime())
        if sub is None:
            continue
        op = next((i for i, (s, e) in enumerate(zip(starts, ends))
                   if s <= sub <= e), None)
        if op is None:
            continue
        rec = per_op[op]
        rec["jobs"] += 1
        sids = job.stageIds()
        for k in range(sids.size()):
            try:
                st = store.lastStageAttempt(sids.apply(k))
            except Py4JJavaError:  # evicted or never-submitted stage
                continue
            if st.status().toString() == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += st.numCompleteTasks()
            rec["task_run_ms"] += st.executorRunTime()
            rec["task_cpu_ms"] += st.executorCpuTime() / 1e6
            rec["gc_ms"] += st.jvmGcTime()
            rec["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            s0, s1 = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if s0 is not None and s1 is not None:
                rec["_iv"].append((max(s0, starts[op]), min(s1, ends[op])))
    for rec, s, e in zip(per_op, starts, ends):
        rec["driver_residual_ms"] = (e - s) - _union_ms(rec.pop("_iv"))
    return per_op


def cached_mb(spark) -> float:
    """Block-manager bytes (memory + disk) held by persisted data, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


# ---------------------------------------------------------------------------
# Streaming progress
# ---------------------------------------------------------------------------

def progress_record(p: dict) -> dict:
    """Flatten one StreamingQueryProgress (``query.recentProgress`` entry):
    batch phase durations, state rows and state commit time, and the
    trigger start as epoch seconds."""
    from datetime import datetime
    d = p["durationMs"]
    ops = p.get("stateOperators", [])
    return {
        "batch_id": p["batchId"], "input_rows": p["numInputRows"],
        "t": datetime.fromisoformat(
            p["timestamp"].replace("Z", "+00:00")).timestamp(),
        "trigger_ms": d.get("triggerExecution", 0),
        "add_batch_ms": d.get("addBatch", 0),
        "planning_ms": d.get("queryPlanning", 0),
        "commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
        "state_rows": sum(o["numRowsTotal"] for o in ops),
        "state_commit_ms": sum(o["commitTimeMs"] for o in ops),
    }
