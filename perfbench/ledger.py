"""Measurement primitives of the benchmark, all taken from outside the
program: percentiles, driver gaps, Spark's status store, spans, and the
machine's own contention signals from ``/proc``.

Nothing here imports ``extractor_spark``; the Spark reader only needs a live
``SparkSession``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager

PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_TAIL_SAMPLES = 10


def tail_percentile(n: int, ladder=PERCENTILE_LADDER) -> float | None:
    """Highest percentile of ``ladder`` with at least ten of ``n`` samples
    beyond it; None when even the median has fewer."""
    for p in sorted(ladder, reverse=True):
        if n * (100.0 - p) / 100.0 >= MIN_TAIL_SAMPLES - 1e-9:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the sample at rank ceil(p/100 * n))."""
    ordered = sorted(values)
    if not ordered:
        raise ValueError("percentile of no samples")
    rank = max(1, -(-len(ordered) * p // 100))
    return ordered[int(min(rank, len(ordered))) - 1]


def fail_ratio(failed: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("fail_ratio needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def covered_seconds(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(start, a), min(end, b)) for a, b in intervals if b > start and a < end
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(start: float, end: float, job_intervals) -> float:
    """Wall time of [start, end] during which no Spark job was running."""
    return (end - start) - covered_seconds(start, end, job_intervals)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

_UNIT_SCALE = {
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}
_METRIC_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str | None) -> float:
    """Total of a SQL metric as the status store formats it: bytes for
    sizes, seconds for timings, a count for sums.  Multi-task values read
    ``total (min, med, max ...)\\n<total> (<min>, ...)``; the total is the
    first value of the second line.  Average metrics have no total and read
    ``(min, med, max ...):\\n(<min>, <med>, ...)``; their median is taken."""
    if not text:
        return 0.0
    if text.startswith("(min, med"):
        return parse_sql_metric(text.split("\n", 1)[1].lstrip("(").split(", ")[1])
    line = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _METRIC_RE.match(line)
    if not m:
        raise ValueError(f"unparsable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNIT_SCALE:
        raise ValueError(f"unknown unit {unit!r} in SQL metric {text!r}")
    return value * _UNIT_SCALE[unit]


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt_ms(o) -> float | None:
    return o.get().getTime() / 1000.0 if o.isDefined() else None


class StatusStore:
    """Reads Spark's own job, stage and SQL-execution records after the
    fact, so the timed calls run unmodified.  ``busy_s`` is the time spent
    reading: the tracing overhead."""

    def __init__(self, spark):
        self.busy_s = 0.0
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jvm = self._sc._jvm

    @contextmanager
    def _reading(self):
        t0 = time.perf_counter()
        try:
            self._bus.waitUntilEmpty()
            yield
        finally:
            self.busy_s += time.perf_counter() - t0

    def mark(self) -> tuple[int, int]:
        """(last job id, last SQL execution id) seen so far."""
        with self._reading():
            return self._mark()

    def _mark(self) -> tuple[int, int]:
        jobs = _seq(self._store.jobsList(None))
        execs = _seq(self._sql.executionsList())
        return (
            max((j.jobId() for j in jobs), default=-1),
            max((e.executionId() for e in execs), default=-1),
        )

    def _jobs_since(self, mark) -> list[dict]:
        out = []
        for j in _seq(self._store.jobsList(None)):
            if j.jobId() <= mark[0]:
                continue
            out.append(
                {
                    "id": j.jobId(),
                    "start": _opt_ms(j.submissionTime()),
                    "end": _opt_ms(j.completionTime()),
                    "stage_ids": list(_seq(j.stageIds())),
                    "tasks": j.numTasks(),
                }
            )
        return out

    def _stages(self, stage_ids) -> list[dict]:
        wanted = set(stage_ids)
        empty = self._jvm.java.util.ArrayList()
        quantiles = self._sc._gateway.new_array(self._jvm.double, 0)
        out = []
        for s in _seq(self._store.stageList(empty, False, False, quantiles, empty)):
            if s.stageId() not in wanted or s.numCompleteTasks() == 0:
                continue
            out.append(
                {
                    "id": s.stageId(),
                    "attempt": s.attemptId(),
                    "tasks": s.numCompleteTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "shuffle_write_b": s.shuffleWriteBytes(),
                    "shuffle_read_b": s.shuffleReadBytes(),
                    "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                    "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "output_b": s.outputBytes(),
                    "start": _opt_ms(s.submissionTime()),
                    "end": _opt_ms(s.completionTime()),
                }
            )
        return out

    def task_seconds(self, stage: dict) -> list[float]:
        with self._reading():
            tasks = _seq(self._store.taskList(stage["id"], stage["attempt"], 100000))
            return [t.duration().get() / 1e3 for t in tasks if t.duration().isDefined()]

    def executions_since(self, mark) -> list[dict]:
        """SQL executions after ``mark`` with their plan nodes and each
        node's metric totals (status-store formatted values, parsed)."""
        with self._reading():
            return self._executions_since(mark)

    def _executions_since(self, mark) -> list[dict]:
        out = []
        for e in _seq(self._sql.executionsList()):
            eid = e.executionId()
            if eid <= mark[1]:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = []
            for n in _seq(self._sql.planGraph(eid).allNodes()):
                metrics = {}
                for m in _seq(n.metrics()):
                    v = values.get(m.accumulatorId())
                    metrics[m.name()] = parse_sql_metric(v.get() if v.isDefined() else None)
                nodes.append({"name": n.name(), "desc": n.desc(), "metrics": metrics})
            out.append({"id": eid, "description": e.description(), "nodes": nodes})
        return out

    def window(self, mark, start: float, end: float) -> dict:
        """Scheduler totals for the jobs started after ``mark``, with the
        driver gap of [start, end]."""
        with self._reading():
            return self._window(mark, start, end)

    def _window(self, mark, start: float, end: float) -> dict:
        jobs = self._jobs_since(mark)
        stages = self._stages(sid for j in jobs for sid in j["stage_ids"])
        intervals = [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
        return {
            "jobs": len(jobs),
            "tasks": sum(s["tasks"] for s in stages),
            "driver_s": driver_gap(start, end, intervals),
            "gc_s": sum(s["gc_s"] for s in stages),
            "shuffle_write_mb": sum(s["shuffle_write_b"] for s in stages) / 2**20,
            "shuffle_read_mb": sum(s["shuffle_read_b"] for s in stages) / 2**20,
            "fetch_wait_s": sum(s["fetch_wait_s"] for s in stages),
            "spill_mb": sum(s["spill_b"] for s in stages) / 2**20,
            "output_mb": sum(s["output_b"] for s in stages) / 2**20,
            "_stages": stages,
        }


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, workload), written once
    when the run ends."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        record = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(record)
        self._stack.append(record["id"])
        try:
            yield record
        finally:
            self._stack.pop()
            record["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)


# ---------------------------------------------------------------------------
# Process tree and machine contention (/proc)
# ---------------------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # exited between listdir and open
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[0] is state (field 3); utime..cstime are fields 14..17
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / _CLK_TCK)
    return out


def _tree(stats: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            seen.append(pid)
            todo.extend(children.get(pid, ()))
    return seen


def _pss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass  # exited while sampled
    return 0.0


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of ``root`` (default: this process) and its descendants."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree(stats, root or os.getpid()))


def tree_resident_mb(root: int | None = None) -> float:
    """Resident memory of the tree as summed PSS: pages shared between
    processes (the forked Python workers and their daemon) count once."""
    return sum(_pss_mb(p) for p in _tree(_proc_stats(), root or os.getpid()))


def cpu_jiffies() -> dict[str, int]:
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return {n: int(v) for n, v in zip(names, parts)}


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Contention:
    """Machine signals over one leg: steal share, CPU used by processes
    outside the benchmark's tree, load average, and the tree's own CPU
    seconds against wall seconds."""

    def __init__(self):
        self._t0 = time.time()
        self._j0 = cpu_jiffies()
        self._c0 = tree_cpu_s()

    def finish(self) -> dict:
        wall = time.time() - self._t0
        j1 = cpu_jiffies()
        d = {k: j1[k] - self._j0[k] for k in j1}
        total = sum(d.values()) or 1
        busy_s = (total - d["idle"] - d["iowait"] - d["steal"]) / _CLK_TCK
        bench_cpu = tree_cpu_s() - self._c0
        return {
            "wall_s": wall,
            "bench_cpu_s": bench_cpu,
            "other_cpu_s": max(0.0, busy_s - bench_cpu),
            "steal_share": d["steal"] / total,
            "load1": load1(),
        }


class PeakRss:
    """Background sampler of the process tree's resident memory."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_resident_mb())
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_resident_mb())


class Call:
    """One timed call into the program.  With tracing on, ``window`` holds
    the scheduler totals of the jobs it ran once the call has returned."""

    def __init__(self, store: StatusStore | None):
        self.store = store
        self.mark = store.mark() if store else None
        self.seconds = 0.0
        self.window: dict | None = None
        self._executions: list | None = None

    def executions(self) -> list[dict]:
        if self._executions is None:
            self._executions = self.store.executions_since(self.mark)
        return self._executions


class Traced:
    """Span and status-store recording around the public calls; a no-op
    apart from the call's own wall time when ``store`` is None."""

    def __init__(self, tracer: Tracer | None = None, store: StatusStore | None = None):
        self.tracer = tracer
        self.store = store

    @contextmanager
    def call(self, name: str):
        c = Call(self.store)
        with self.span(name):
            t0 = time.time()
            try:
                yield c
            finally:
                t1 = time.time()
                c.seconds = t1 - t0
        if self.store is not None:
            c.window = self.store.window(c.mark, t0, t1)

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return _nothing()
        return self.tracer.span(name, **attrs)


@contextmanager
def _nothing():
    yield None
