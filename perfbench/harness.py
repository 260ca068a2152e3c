"""Timing, tracing and metric helpers shared by the workloads.

Nothing here imports Spark at module level: the percentile rule, span
self-time and metric assembly are plain Python so the unit tests run
without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

TAIL_BEYOND = 10


def tail_percentile(values, beyond: int = TAIL_BEYOND):
    """Highest whole percentile that leaves at least ``beyond`` samples
    above it, by nearest rank. Returns ``(percentile, value)`` or None
    when there are too few samples (fewer than ``beyond + 1``)."""
    n = len(values)
    if n <= beyond:
        return None
    xs = sorted(values)
    p = (100 * (n - beyond)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, xs[rank - 1]


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def mean_of_medians(by_kind: dict[str, list[float]]) -> float:
    """Mean over op kinds of each kind's median latency. A mix of kinds
    with different costs has a median that jumps between modes as the
    per-run sample counts shift; averaging per-kind medians does not."""
    meds = [median(v) for v in by_kind.values() if v]
    return sum(meds) / len(meds) if meds else 0.0


@dataclass
class OpRecord:
    kind: str
    klass: str  # "light" or "heavy"
    seconds: float
    ok: bool = True


class OpLog:
    """Latencies of the timed closed loop, one record per call."""

    def __init__(self) -> None:
        self.records: list[OpRecord] = []

    def add(self, kind: str, klass: str, seconds: float) -> OpRecord:
        rec = OpRecord(kind, klass, seconds)
        self.records.append(rec)
        return rec

    def by_kind(self, klass: str | None = None) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for r in self.records:
            if klass is None or r.klass == klass:
                out.setdefault(r.kind, []).append(r.seconds * 1000.0)
        return out

    def all_ms(self) -> list[float]:
        return [r.seconds * 1000.0 for r in self.records]


# -- spans -------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    req: int | None
    start: float  # epoch seconds
    end: float = 0.0
    group: str | None = None
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    window: bool = False  # also owns un-grouped jobs submitted inside it
    extra_groups: list[str] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` (pairs), optionally clipped
    to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.sid: s.seconds
        - union_length([(c.start, c.end) for c in children.get(s.sid, [])], s.start, s.end)
        for s in spans
    }


class Tracer:
    """Span recorder. Disabled, ``span`` only yields None, so the untraced
    run pays nothing but a generator frame per call.

    Enabled, each span runs under its own Spark job group, so the
    StatusTracker (read right after the call, before stage info ages
    out) and the event log can both attribute jobs to it. Spans stay in
    memory until ``dump``."""

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_req = 0
        self.overhead_s = 0.0  # time spent in span bookkeeping

    @contextmanager
    def paused(self):
        """Record nothing inside (warm-up calls are not measured)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def new_request(self) -> int:
        self._next_req += 1
        return self._next_req

    @contextmanager
    def span(self, name: str, req: int | None = None, window: bool = False):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = parent.req
        s = Span(
            sid=len(self.spans) + 1,
            name=name,
            parent=parent.sid if parent else None,
            req=req,
            start=0.0,
            group=f"perfbench-{len(self.spans) + 1}",
            window=window,
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name, interruptOnCancel=False)
        self.overhead_s += time.perf_counter() - t0
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            t1 = time.perf_counter()
            self._stack.pop()
            self._collect_status(s)
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name, interruptOnCancel=False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t1

    def _collect_status(self, s: Span) -> None:
        st = self.sc.statusTracker()
        jobs = set(st.getJobIdsForGroup(s.group))
        for g in s.extra_groups:
            jobs.update(st.getJobIdsForGroup(g))
        s.jobs = sorted(jobs)
        for jid in s.jobs:
            info = st.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    s.stages += 1
                    s.tasks += si.numCompletedTasks

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        st = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["self_s"] = st[s.sid]
                f.write(json.dumps(rec) + "\n")


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(
        os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs
    )


# -- resident memory ---------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of the summed RSS of this process and all its descendants
    (the Spark JVM and its Python workers), sampled on a thread."""

    def __init__(self, period_s: float = 0.25) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in process_tree(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
