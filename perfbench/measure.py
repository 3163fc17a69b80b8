"""Measurement helpers that sit outside the engine: spans, process-tree
CPU and memory from ``/proc``, and Spark's status store.

Spans are kept in memory and written once, at the end of a traced run.
Spark work is attributed to a span by the job group that is set while
the span is open; the status store is read right after each operation.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    id: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part its child spans cover."""
    children = [(s.start, s.end) for s in spans if s.parent == span.id]
    return span.duration - covered(children, span.start, span.end)


@dataclass
class Tracer:
    """Nested spans with a job group per span, so the status store can
    attribute Spark jobs to the innermost open span."""

    sc: object = None
    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    op: int | None = None

    def group(self, span: Span) -> str:
        return f"op{span.op}.{span.name}.{span.id}"

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(name, time.perf_counter(), 0.0, parent, self.op, id=len(self.spans))
        self.spans.append(span)
        self._stack.append(span)
        if self.sc is not None:
            self.sc.setJobGroup(self.group(span), name)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if self.sc is not None:
            if self._stack:
                self.sc.setJobGroup(self.group(self._stack[-1]), self._stack[-1].name)
            else:
                self.sc._jsc.clearJobGroup()

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        span = self.open(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.close(span)

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, "op": s.op}
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# process tree: CPU seconds and resident memory from /proc
# ---------------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root`` and its descendants,
    including children they have already reaped (Spark's Python
    workers end inside the JVM's subtree and are counted there)."""
    ticks = 0
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            ticks += sum(int(v) for v in st[11:15])
    return ticks / CLK_TCK


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of the whole host from /proc/stat: the share
    of CPU time the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM), in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


# ---------------------------------------------------------------------------
# Spark status store (works with spark.ui.enabled=false)
# ---------------------------------------------------------------------------

# SQL metrics of the Python UDF nodes (ArrowEvalPython and kin)
PY_TIME = "time to run Python workers"
PY_DATA = ("data sent to Python workers", "data returned from Python workers")
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_metric_total(text: str) -> float:
    """The total of a formatted SQL metric, in seconds or bytes: the last
    line of ``total (min, med, max ...)\n9.5 s (2.2 s, ...)`` starts
    with the total and its unit."""
    number, unit = text.strip().splitlines()[-1].split()[:2]
    return float(number.replace(",", "")) * _UNITS[unit]


@dataclass
class StageStats:
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_b: int = 0
    spill_b: int = 0
    input_b: int = 0

    def add(self, other: StageStats) -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class StatusReader:
    """Reads Spark's status stores after an op: per-job-group stage
    metrics (``statusTracker().getJobIdsForGroup`` for the jobs, then
    ``statusStore().stageData`` for each stage) and the SQL metrics of
    Python UDF nodes in the SQL executions the op ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_status = gw.jvm.java.util.ArrayList()
        self.next_execution = self.sql_store.executionsCount()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        stores hold the op's last stage and execution."""
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    def group_stats(self, group: str) -> tuple[int, StageStats]:
        """(jobs, stage metrics) of every job run under ``group``."""
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        out = StageStats()
        stage_ids = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                attempts = store.stageData(sid, False, self._no_status, False, self._no_quantiles)
            except Py4JJavaError:  # NoSuchElementException: evicted from the store
                continue
            it = attempts.iterator()
            while it.hasNext():
                out.add(_stage_stats(it.next()))
        return len(jobs), out

    def skip_executions(self) -> None:
        """Pass over the SQL executions of untraced work."""
        while not self.sql_store.execution(self.next_execution).isEmpty():
            self.next_execution += 1

    def python_udf(self) -> tuple[float, float]:
        """(seconds in Python workers, bytes through Arrow) over the SQL
        executions that started since the previous call."""
        secs = data = 0.0
        while not self.sql_store.execution(self.next_execution).isEmpty():
            eid = self.next_execution
            self.next_execution += 1
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if not any(k in node.name() for k in ("Python", "Pandas", "Arrow")):
                    continue
                metrics = node.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    if m.name() != PY_TIME and m.name() not in PY_DATA:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isEmpty():
                        continue
                    total = parse_metric_total(v.get())
                    if m.name() == PY_TIME:
                        secs += total
                    else:
                        data += total
        return secs, data


def _stage_stats(s) -> StageStats:
    done = s.status().toString() == "COMPLETE"
    return StageStats(
        stages=int(done),
        tasks=s.numCompleteTasks(),
        run_s=s.executorRunTime() / 1e3,
        cpu_s=s.executorCpuTime() / 1e9,
        gc_s=s.jvmGcTime() / 1e3,
        shuffle_write_b=s.shuffleWriteBytes(),
        spill_b=s.diskBytesSpilled(),
        input_b=s.inputBytes(),
    )
