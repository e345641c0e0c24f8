"""Span recorder, Spark status-store collector and memory sampler.

Spans are kept in memory and written out once, when the benchmark ends.
The tree of one iteration (a report pass, a request, an ingest cycle) is

    iteration            one trace id
      op                 one workload operation, one Spark job group
        layer call       a call into one layer of the program
          spark job      a job interval read from the status store

Spark jobs are attached to the innermost layer call of their op whose
interval holds the job's submission time.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Span:
    __slots__ = ("id", "parent", "trace", "name", "kind", "start", "end", "attrs")

    def __init__(self, sid, parent, trace, name, kind, start):
        self.id = sid
        self.parent = parent
        self.trace = trace
        self.name = name
        self.kind = kind
        self.start = start
        self.end = start
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "parent": self.parent,
            "trace": self.trace,
            "name": self.name,
            "kind": self.kind,
            "start": self.start,
            "end": self.end,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


def _opt_ms(opt) -> float | None:
    """scala.Option[java.util.Date] -> epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkJobs:
    """Reads job and stage records of one job group from Spark's status
    store (works with the UI disabled)."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def jobs(self, group: str) -> list[dict]:
        out = []
        for jid in sorted(self._sc.statusTracker().getJobIdsForGroup(group)):
            job = self._store.job(jid)
            sub = _opt_ms(job.submissionTime())
            end = _opt_ms(job.completionTime()) or time.time()
            rec = {"job": jid, "start": sub if sub is not None else end, "end": end,
                   "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                   "shuffle_bytes": 0, "input_records": 0, "task_wait_s": 0.0}
            ids = job.stageIds()
            for i in range(ids.size()):
                try:
                    st = self._store.lastStageAttempt(ids.apply(i))
                except Py4JJavaError:  # stage record evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                rec["stages"] += 1
                rec["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                rec["run_s"] += st.executorRunTime() / 1000.0
                rec["cpu_s"] += st.executorCpuTime() / 1e9
                rec["gc_s"] += st.jvmGcTime() / 1000.0
                rec["shuffle_bytes"] += st.shuffleWriteBytes()
                rec["input_records"] += st.inputRecords()
                s0, s1 = _opt_ms(st.submissionTime()), _opt_ms(st.firstTaskLaunchedTime())
                if s0 is not None and s1 is not None:
                    rec["task_wait_s"] += max(s1 - s0, 0.0)
            out.append(rec)
        return out

    def scan_rows(self, group: str) -> int:
        """Rows out of Python-DataSource scans, summed over the SQL
        executions that ran the job group's jobs."""
        jids = set(self._sc.statusTracker().getJobIdsForGroup(group))
        scanned = 0
        execs = self._sql.executionsList()
        # the op just ended: its executions are among the newest, even with
        # the other client threads' executions interleaved
        for i in range(execs.size() - 1, max(execs.size() - 64, 0) - 1, -1):
            ex = execs.apply(i)
            it = ex.jobs().keySet().iterator()
            mine = False
            while it.hasNext() and not mine:
                mine = int(it.next()) in jids
            if not mine:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            nodes = self._sql.planGraph(ex.executionId()).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if "PythonDataSource" not in node.name() and "BatchScan" not in node.name():
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.name() == "number of output rows":
                        v = values.get(metric.accumulatorId())
                        if v.isDefined():
                            scanned += int(str(v.get()).replace(",", "").split()[0])
        return scanned


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op
    apart from running the wrapped code."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._jobs = SparkJobs(spark) if enabled else None

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, kind: str, trace: int | None = None) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        sp = Span(next(self._ids), parent.id if parent else None,
                  trace if trace is not None else (parent.trace if parent else 0),
                  name, kind, time.time())
        st.append(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack().pop()
        with self._lock:
            self.spans.append(sp)

    @contextmanager
    def iteration(self, name: str, trace: int):
        if not self.enabled:
            yield None
            return
        sp = self._open(name, "iteration", trace)
        try:
            yield sp
        finally:
            self._close(sp)

    @contextmanager
    def op(self, name: str, spark, scan_rows: bool = False):
        """One workload operation; its Spark jobs share one job group."""
        if not self.enabled:
            yield None
            return
        sp = self._open(name, "op")
        group = f"perfbench-{sp.id}"
        sc = spark.sparkContext
        sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            self._close(sp)
            t0 = time.perf_counter()
            layers = [s for s in self.spans if s.parent == sp.id and s.kind == "layer"]
            for job in self._jobs.jobs(group):
                home = next((s for s in layers if s.start <= job["start"] <= s.end), sp)
                js = Span(next(self._ids), home.id, sp.trace, f"spark.job.{job['job']}",
                          "job", job["start"])
                js.end = max(job["end"], job["start"])
                js.attrs = job
                with self._lock:
                    self.spans.append(js)
            if scan_rows:
                sp.attrs["scan_rows"] = self._jobs.scan_rows(group)
            self.bookkeeping_s += time.perf_counter() - t0

    @contextmanager
    def layer(self, name: str):
        """A call into one layer of the program (``name`` is
        ``<layer>.<function>``)."""
        if not self.enabled:
            yield None
            return
        sp = self._open(name, "layer")
        try:
            yield sp
        finally:
            self._close(sp)

    def record_setup(self, get_spark_at: tuple[float, float]) -> None:
        """The set-up's ``get_spark`` call, which runs before tracing is
        switched on, as a ``session`` layer span under a ``setup`` op (trace
        id -1, outside every iteration)."""
        op = Span(next(self._ids), None, -1, "setup", "op", get_spark_at[0])
        op.end = get_spark_at[1]
        call = Span(next(self._ids), op.id, -1, "session.get_spark", "layer", get_spark_at[0])
        call.end = get_spark_at[1]
        with self._lock:
            self.spans += [op, call]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in sorted(self.spans, key=lambda s: s.id)], f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover."""
    cover = [(max(c.start, span.start), min(c.end, span.end)) for c in children]
    return max(span.dur - union_length([c for c in cover if c[1] > c[0]]), 0.0)


class RssSampler:
    """Peak summed resident memory of this process and all its descendants
    (the driver JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total = sum(self._rss(p) for p in descendants(os.getpid(), include_self=True))
        self.peak_bytes = max(self.peak_bytes, total)

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, ValueError, IndexError):
            return 0


def descendants(root: int, include_self: bool = False) -> list[int]:
    """Pids of every live descendant of ``root``, from /proc/<pid>/stat."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out if include_self else out[1:]
