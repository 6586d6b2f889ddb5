"""Spans, Spark status-store reads and process-tree memory for the benchmark.

Everything here observes the package from outside: spans wrap the
benchmark's own calls into the package, and the Spark numbers come from
the status stores Spark keeps anyway (both work with the UI disabled).
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import statistics
import threading
import time


class Tracer:
    """In-memory spans: name, start, end, parent and op id.  Disabled, it
    records nothing and costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: int | None = None
        self._ids = itertools.count()
        self._ops = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = {
            "id": next(self._ids),
            "name": name,
            "op": self._op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self._stack.append(s)
        try:
            yield
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)

    @contextlib.contextmanager
    def op(self, name: str):
        """A root span for one benchmark op; its id tags every child span."""
        self._op = next(self._ops)
        try:
            with self.span(name):
                yield self._op
        finally:
            self._op = None

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s["id"]] = s["end"] - s["start"] - covered
        return out

    def self_time_by_name(self) -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
        return out

    def op_self_sum_ratio(self) -> float:
        """Sum of every op's span self-times over the ops' wall time; 1.0
        when the spans of each op tile its root exactly."""
        st = self.self_times()
        roots = [s for s in self.spans if s["parent"] is None and s["op"]]
        wall = sum(s["end"] - s["start"] for s in roots)
        ops = {s["op"] for s in roots}
        selfs = sum(st[s["id"]] for s in self.spans if s["op"] in ops)
        return selfs / wall if wall else 1.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Spark status stores


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _metric_value(text: str) -> float:
    """Total of a SQL metric string: ``46.9 MiB``, ``200,000``, or the
    ``total (min, med, max ...)\\n46.9 MiB (...)`` form."""
    line = text.split("\n")[-1]
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)?", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _SIZE.get(m.group(2) or "B", 1)


class SparkStores:
    """Reads the app status store (jobs, stages, tasks) and the SQL status
    store (per-operator metrics) for the jobs of one job group.

    Ops run one at a time, so each report only walks the jobs, stages and
    SQL executions that appeared since the previous report (the job and
    stage lists come newest first)."""

    # the Arrow batches a Python data source reader hands to the JVM
    _HANDOFF_METRIC = "data returned from Python workers"

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self._last_job = self._last_stage = self._last_exec = -1

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def group_report(self, group: str) -> dict:
        """Jobs, tasks, task times, shuffle/spill and the bytes Python
        workers handed to the JVM, for the new jobs in ``group``."""
        # wait until the listener bus has delivered every event, so the
        # stores hold the finished op's final task metrics
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        job_ids, stage_ids = set(), set()
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self._last_job:
                break
            g = j.jobGroup()
            if g.isDefined() and g.get() == group:
                job_ids.add(j.jobId())
                ids = j.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
        if jobs.size():
            self._last_job = max(self._last_job, jobs.apply(0).jobId())
        rep = {
            "jobs": len(job_ids), "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
            "max_over_median": 1.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "py_bytes_in": 0.0,
        }
        al = self.jvm.java.util.ArrayList
        stages = store.stageList(
            al(), False, False, self.sc._gateway.new_array(self.jvm.double, 0), al()
        )
        ratios = []
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= self._last_stage:
                break
            if s.stageId() not in stage_ids:
                continue
            rep["tasks"] += s.numCompleteTasks()
            rep["run_s"] += s.executorRunTime() / 1e3
            rep["cpu_s"] += s.executorCpuTime() / 1e9
            rep["shuffle_write_bytes"] += s.shuffleWriteBytes()
            rep["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if s.numTasks() > 1:
                tl = store.taskList(s.stageId(), s.attemptId(), s.numTasks())
                durs = []
                for k in range(tl.size()):
                    tm = tl.apply(k).taskMetrics()
                    if tm.isDefined():
                        durs.append(tm.get().executorRunTime())
                if durs and statistics.median(durs) > 0:
                    ratios.append(max(durs) / statistics.median(durs))
        if stages.size():
            self._last_stage = max(self._last_stage, stages.apply(0).stageId())
        if ratios:
            rep["max_over_median"] = max(ratios)
        sql = self.spark._jsparkSession.sharedState().statusStore()
        while True:
            e = sql.execution(self._last_exec + 1)
            if not e.isDefined():
                break
            self._last_exec += 1
            e = e.get()
            if not any(e.jobs().contains(j) for j in job_ids):
                continue
            vals = sql.executionMetrics(e.executionId())
            ms = e.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                if m.name() == self._HANDOFF_METRIC:
                    v = vals.get(m.accumulatorId())
                    if v.isDefined():
                        rep["py_bytes_in"] += _metric_value(v.get())
        return rep


# ---------------------------------------------------------------------------
# Process-tree memory


def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids, from /proc."""
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and every descendant (JVM, Python
    workers)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the process tree's resident memory every ``period`` s."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
