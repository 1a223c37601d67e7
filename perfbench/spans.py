"""Measurement plumbing: spans, Spark job accounting, process-tree RSS.

Spans are recorded by the benchmark around its calls into the program's
public functions (the program itself carries no instrumentation).  Each
span has a name, start, end, parent and run id; spans live in memory and
are written out once, when the run ends.

With tracing on, every span runs under its own Spark job group.  When
the span closes, the jobs of that group are read from
``statusTracker()`` and their run intervals and stage metrics from
Spark's status store (populated with the UI off), giving per span:

* ``jobs``         jobs started inside the span;
* ``exec_run_s``   summed task run time of those jobs' stages;
* ``driver_gap_s`` span wall minus the union of its jobs' run intervals:
                   driver-only time (listing, planning, collecting,
                   combining) while no job runs;
* shuffle bytes read and written.

With tracing off, ``Tracer.span`` records nothing and touches no Spark
API, so untraced runs measure the program alone.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float  # epoch seconds
    end: float = 0.0
    jobs: list = field(default_factory=list)  # own jobs only
    job_intervals: list = field(default_factory=list)  # [(start_s, end_s)]
    exec_run_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    input_b: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
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


class Tracer:
    """Span recorder; a no-op when ``enabled`` is false."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.warm_from = 0  # first span id after the run's cold op

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, len(self.spans), parent.span_id if parent else None,
                  self.run_id, time.time(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"{self.run_id}-{sp.span_id}"
        sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"{self.run_id}-{parent.span_id}", parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self._collect(sp, group)

    def _collect(self, sp: Span, group: str) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # status store is fed async
        store = jsc.statusStore()
        for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                end = comp.get().getTime() if comp.isDefined() else sp.end * 1e3
                sp.job_intervals.append((sub.get().getTime() / 1e3, end / 1e3))
            sp.jobs.append(jid)
            ids = jd.stageIds()
            for k in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(k))
                except Exception:  # skipped stage: never attempted
                    continue
                sp.exec_run_s += st.executorRunTime() / 1e3
                sp.shuffle_read_b += st.shuffleReadBytes()
                sp.shuffle_write_b += st.shuffleWriteBytes()
                sp.input_b += st.inputBytes()

    # -- aggregation ---------------------------------------------------

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp.span_id]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(s.span_id for s in self.spans if s.parent == sid)
        return out

    def totals(self, sp: Span) -> dict:
        """Jobs, stage times and driver gap of a span including its
        children (a child's jobs run under the child's group)."""
        tree = self.subtree(sp)
        intervals = [iv for s in tree for iv in s.job_intervals]
        busy = union_length(intervals, sp.start, sp.end)
        return {
            "wall_s": sp.wall,
            "jobs": sum(len(s.jobs) for s in tree),
            "exec_run_s": sum(s.exec_run_s for s in tree),
            "driver_gap_s": max(0.0, sp.wall - busy),
            "job_busy_s": busy,
            "shuffle_read_mb": sum(s.shuffle_read_b for s in tree) / 1e6,
            "shuffle_write_mb": sum(s.shuffle_write_b for s in tree) / 1e6,
        }

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def warm(self, name: str) -> list[Span]:
        """Spans of ``name`` recorded after the run's cold op."""
        return [s for s in self.by_name(name) if s.span_id >= self.warm_from]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


# --- process-tree resource polling ---------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in kids.get(pid, ()):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class Poller:
    """Background sampler of the process tree's RSS (and, when a Spark
    context is given, of persisted-RDD bytes, as
    tools/above_gate_run.PeakState polls them).  Peaks only count while
    ``armed``, so set-up and reference computations stay out."""

    INTERVAL = 0.2  # seconds between samples

    def __init__(self, spark=None):
        self.spark = spark
        self.armed = False
        self.peak_rss = 0
        self.peak_state = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.INTERVAL):
            if not self.armed:
                continue
            self.peak_rss = max(self.peak_rss, tree_rss_bytes(me))
            if self.spark is not None:
                try:
                    infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
                    cur = sum(i.memSize() + i.diskSize() for i in infos)
                    self.peak_state = max(self.peak_state, cur)
                except Exception:  # context shutting down
                    pass

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)


def load_average() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]
