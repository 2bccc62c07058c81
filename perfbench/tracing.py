"""Span recording, interval arithmetic and Spark counter collection for the
traced benchmark run.

Everything here wraps the engine from outside: public functions are swapped
for timing wrappers (``bench_server.install``), the TCP handler gets a
socket proxy that marks request boundaries, and Spark counters are read back
through ``statusTracker`` / ``statusStore().lastStageAttempt`` by job group.
Nothing inside ``ophidia_io_server_spark`` is modified on disk.
"""

from __future__ import annotations

import statistics
import threading
import time
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# pure helpers (unit-tested)
# ---------------------------------------------------------------------------

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default 'linear' method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    h = (len(xs) - 1) * p / 100.0
    lo = int(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (h - lo) * (xs[hi] - xs[lo])


def tail_percentile(values: list[float], min_beyond: int = 10) -> float | None:
    """Highest percentile in ``TAIL_PERCENTILES`` that has at least
    ``min_beyond`` samples strictly above its value; None when even the
    median has fewer."""
    for p in TAIL_PERCENTILES:
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= min_beyond:
            return p
    return None


def merge_intervals(ivs) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(ivs):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def covered(ivs, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``ivs``."""
    tot = 0.0
    for a, b in merge_intervals(ivs):
        a, b = max(a, lo), min(b, hi)
        if b > a:
            tot += b - a
    return tot


def subtract(base: list[tuple[float, float]], cut) -> list[tuple[float, float]]:
    """Intervals of ``base`` (disjoint) not covered by ``cut``."""
    cut = merge_intervals(cut)
    out = []
    for a, b in base:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into the request's span list
    rid: str


def self_intervals(spans: list[Span], i: int) -> list[tuple[float, float]]:
    """Parts of span ``i`` not covered by its direct children."""
    kids = [(s.start, s.end) for s in spans if s.parent == i]
    return subtract([(spans[i].start, spans[i].end)], kids)


def self_times(spans: list[Span], jobs=()) -> dict[str, float]:
    """Seconds of self time per span name: span duration minus child-span
    coverage, and minus Spark in-job time (``jobs`` intervals) so that the
    layer self times plus the in-job union add up to the root span."""
    out: dict[str, float] = {}
    jobs = merge_intervals(jobs)
    for i, s in enumerate(spans):
        own = subtract(self_intervals(spans, i), jobs)
        out[s.name] = out.get(s.name, 0.0) + sum(b - a for a, b in own)
    return out


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# span recorder
# ---------------------------------------------------------------------------


@dataclass
class Request:
    rid: str
    key: tuple  # (client port, sequence on that connection)
    start: float
    end: float = 0.0
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    groups: list[str] = field(default_factory=list)


class Tracer:
    """In-memory span store.  A request owns a span tree; the handler thread
    that serves it keeps the open-span stack in a thread-local."""

    def __init__(self):
        self.requests: list[Request] = []
        self._tl = threading.local()
        self._lock = threading.Lock()
        self._n = 0

    # -- requests ---------------------------------------------------------

    def begin(self, key: tuple, prefix: str = "r") -> Request:
        with self._lock:
            self._n += 1
            rid = f"{prefix}{self._n}"
        req = Request(rid=rid, key=key, start=time.time())
        req.spans.append(Span("root", req.start, 0.0, None, rid))
        self._tl.req = req
        self._tl.stack = [0]
        return req

    def end(self) -> Request | None:
        req = getattr(self._tl, "req", None)
        if req is None:
            return None
        req.end = req.spans[0].end = time.time()
        with self._lock:
            self.requests.append(req)
        self._tl.req = None
        return req

    def current(self) -> Request | None:
        return getattr(self._tl, "req", None)

    def count(self, name: str, n: float = 1) -> None:
        req = self.current()
        if req is not None:
            req.counts[name] = req.counts.get(name, 0) + n

    # -- spans ------------------------------------------------------------

    def open(self, name: str) -> int | None:
        req = self.current()
        if req is None:
            return None
        idx = len(req.spans)
        req.spans.append(Span(name, time.time(), 0.0, self._tl.stack[-1], req.rid))
        self._tl.stack.append(idx)
        return idx

    def close(self, idx: int | None) -> None:
        if idx is None:
            return
        req = self.current()
        req.spans[idx].end = time.time()
        self._tl.stack.pop()

    def add_interval(self, name: str, start: float, end: float) -> None:
        """Record a finished leaf span (e.g. a lock wait measured around the
        acquire call) under the currently open span."""
        req = self.current()
        if req is not None:
            req.spans.append(Span(name, start, end, self._tl.stack[-1], req.rid))

    def wrap(self, fn, name: str, counter: str | None = None, cells=None):
        tracer = self

        def wrapper(*a, **kw):
            if counter:
                tracer.count(counter)
            if cells is not None:
                tracer.count("sources.cells", cells(*a, **kw))
            idx = tracer.open(name)
            try:
                return fn(*a, **kw)
            finally:
                tracer.close(idx)

        wrapper.__wrapped__ = fn
        return wrapper


# ---------------------------------------------------------------------------
# Spark counters by job group
# ---------------------------------------------------------------------------


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass
class JobStats:
    intervals: list[tuple[float, float]] = field(default_factory=list)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    single_task_stages: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    max_task_share: float = 0.0


def collect_group_stats(sc, groups: list[str]) -> JobStats:
    """Jobs, stages and task metrics of every job in ``groups``, read from the
    status store (works with ``spark.ui.enabled=false``)."""
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = JobStats()
    seen_stages: set[int] = set()
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            jd = store.job(jid)
            a, b = _opt_time(jd.submissionTime()), _opt_time(jd.completionTime())
            out.jobs += 1
            if a is not None and b is not None:
                out.intervals.append((a, b))
            sids = jd.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stages have no attempt
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                n = sd.numTasks()
                out.tasks += n
                out.single_task_stages += n == 1
                run = float(sd.executorRunTime())
                out.run_ms += run
                out.cpu_ms += sd.executorCpuTime() / 1e6
                out.gc_ms += sd.jvmGcTime()
                out.shuffle_read_mb += sd.shuffleReadBytes() / 1e6
                out.shuffle_write_mb += sd.shuffleWriteBytes() / 1e6
                if n > 1 and run > 0:
                    q = sc._gateway.new_array(sc._jvm.double, 1)
                    q[0] = 1.0
                    summ = store.taskSummary(sid, sd.attemptId(), q)
                    if summ.isDefined():
                        share = summ.get().executorRunTime().apply(0) / run
                        out.max_task_share = max(out.max_task_share, share)
    return out
