"""Spans, Spark status-store counters and process-tree memory and CPU time.

Spans are recorded by the benchmark around its calls into each layer (and
around public callables it wraps), kept in memory and written out as JSON
when the run ends. Opening a span sets the Spark job description to
``name [id]``, so every job, stage and SQL execution started inside it is
keyed to the innermost open span in Spark's in-process status stores, which
work with the UI off.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from collections import defaultdict

_DESC = re.compile(r"^(?P<name>.+) \[(?P<id>\d+)\]$")


class Tracer:
    """In-memory span recorder. ``detail`` is True while a traced iteration
    runs; the workloads and the wrapped library callables open layer spans
    only then, so untraced iterations record just their root span. Root
    spans also record the process tree's CPU time at start and end."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.detail = False
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        if rec["parent"] is None:
            rec["cpu_start"] = tree_cpu_s()
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setJobDescription(f"{name} [{rec['id']}]")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if rec["parent"] is None:
                rec["cpu_end"] = tree_cpu_s()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobDescription(f"{top['name']} [{top['id']}]")
            else:
                self.sc.setJobDescription(None)

    def duration(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, sid: int) -> float:
        """Span duration minus the time its (sequential) children cover."""
        return self.duration(sid) - sum(self.duration(c["id"]) for c in self.children(sid))

    def subtree(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            s = todo.pop()
            out.append(self.spans[s])
            todo.extend(c["id"] for c in self.children(s))
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, f, indent=1)


def span_id(description) -> int | None:
    m = _DESC.match(description or "")
    return int(m.group("id")) if m else None


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    it = s.iterator()
    while it.hasNext():
        yield it.next()


_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_METRIC_TOTAL = re.compile(r"^\s*([\d.,]+)\s*([A-Za-z]+)?")


def metric_total(formatted: str) -> float:
    """Total of a formatted SQL metric: a plain count ("1,234"), or the
    first value after the "total (min, med, max ...)" header of a timing
    ("1.2 s", "350 ms"; returned in seconds) or size ("3.4 MiB"; returned
    in bytes) metric."""
    text = formatted.split("\n", 1)[1] if "\n" in formatted else formatted
    m = _METRIC_TOTAL.match(text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1.0)


class StatusReader:
    """Counters from Spark's AppStatusStore (jobs, stages, tasks) and
    SQLAppStatusStore (executed plans and their SQL metrics)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._gw = sc._gateway
        jsc = sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self.app = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._seen_exec = 0

    def drain(self) -> None:
        """Wait until the listeners have recorded every finished job."""
        self._bus.waitUntilEmpty(60_000)

    def executor_tasks(self) -> tuple[int, int]:
        """(tasks, failed tasks) over the application so far."""
        total = failed = 0
        for e in _seq(self.app.executorList(False)):
            total += e.totalTasks()
            failed += e.failedTasks()
        return total, failed

    def new_executions(self, with_metrics=("MapInPandas",)) -> list[dict]:
        """SQL executions recorded since the last call, each with its
        description and plan node names. Nodes named in ``with_metrics``
        also carry their SQL metric totals (each metric read is a gateway
        round trip, so only the nodes the counters use are read)."""
        self.drain()
        n = self.sql.executionsCount()
        out = []
        if n == self._seen_exec:
            return out
        for e in _seq(self.sql.executionsList(self._seen_exec, n - self._seen_exec)):
            eid = e.executionId()
            values = None
            nodes = []
            for node in _seq(self.sql.planGraph(eid).allNodes()):
                name = node.name()
                metrics = {}
                if name in with_metrics:
                    if values is None:
                        values = {t._1(): t._2() for t in _seq(self.sql.executionMetrics(eid))}
                    for m in _seq(node.metrics()):
                        v = values.get(m.accumulatorId())
                        if v is not None:
                            metrics[m.name()] = metric_total(v)
                nodes.append({"name": name, "metrics": metrics})
            out.append({"id": eid, "description": e.description(), "nodes": nodes})
        self._seen_exec = n
        return out

    def stages(self) -> list[dict]:
        jvm = self._gw.jvm
        empty = jvm.java.util.ArrayList()
        q = self._gw.new_array(jvm.double, 0)
        out = []
        for s in _seq(self.app.stageList(empty, False, False, q, empty)):
            out.append({
                "stage": s.stageId(),
                "attempt": s.attemptId(),
                "description": _opt(s.description()),
                "tasks": s.numTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_write_records": s.shuffleWriteRecords(),
                "shuffle_read_records": s.shuffleReadRecords(),
                "spill_bytes": s.diskBytesSpilled(),
                "output_bytes": s.outputBytes(),
            })
        return out

    def jobs(self) -> list[dict]:
        empty = self._gw.jvm.java.util.ArrayList()
        return [
            {"job": j.jobId(), "description": _opt(j.description())}
            for j in _seq(self.app.jobsList(empty))
        ]

    def tasks(self, stage: int, attempt: int) -> list[dict]:
        out = []
        for t in _seq(self.app.taskList(stage, attempt, 1_000_000)):
            tm = _opt(t.taskMetrics())
            out.append({
                "scheduler_delay_s": t.schedulerDelay() / 1e3,
                "run_s": (tm.executorRunTime() if tm is not None else 0) / 1e3,
            })
        return out


def _parents() -> dict[int, int]:
    """pid -> ppid for every visible process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                table[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
    return table


def descendants(root: int) -> list[int]:
    kids = defaultdict(list)
    for pid, ppid in _parents().items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.extend(kids[p])
        todo.extend(kids[p])
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime of a process plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants (the
    JVM and the Python workers), as the kernel charged them."""
    me = os.getpid()
    return sum(_cpu_ticks(p) for p in [me, *descendants(me)]) / os.sysconf("SC_CLK_TCK")


def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, each shared page
    divided among the processes that map it (0 once the process ended)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the resident memory of this process plus all its descendants
    (the JVM and the Python workers it forks) from /proc, keeping the peak.
    Memory is summed as PSS, so the pages the forked Python workers share
    with their daemon count once, not once per worker."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        self.peak = max(self.peak, sum(_pss(p) for p in [me, *descendants(me)]))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
