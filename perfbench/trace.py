"""Spans, percentiles and Spark event-log readout for the benchmark.

Spans are recorded only in a traced run, from the benchmark's own code
around calls into the engine; they stay in memory and are written out
when the run ends. Spark-side numbers come from the event log of the
traced run, attributed to spans through job groups (plans lanes) or
the streaming batch id every micro-batch job carries.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: a failed operation's latency: it misses every limit
FAILED = math.inf


def percentile(values, p: float) -> float | None:
    """Nearest-rank ``p``-th percentile; ``None`` for no samples."""
    if not values:
        return None
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def beyond(n: int, p: float) -> int:
    """Samples that lie above the nearest-rank ``p``-th percentile of
    ``n`` samples."""
    return n - max(1, math.ceil(p / 100 * n)) if n else 0


def tail(values, p: float) -> float | None:
    """The ``p``-th percentile, or ``None`` unless at least ten samples
    lie beyond it: a tail read from fewer is one outlier's value."""
    return percentile(values, p) if beyond(len(values), p) >= 10 else None


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover
    (overlapping children count once; parts outside the parent not)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing and
    leaves job groups alone, so the untraced run measures the engine
    alone."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self, name: str = "stack") -> list:
        if not hasattr(self._local, name):
            setattr(self._local, name, [])
        return getattr(self._local, name)

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        """Record a span timed elsewhere (e.g. in a streaming callback)."""
        if not self.enabled:
            return None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, start, end, parent, self.op, attrs))
        return sid

    @contextmanager
    def span(self, name: str, spark=None, **attrs):
        """Time the body as a child of the innermost open span. With
        ``spark`` given, Spark jobs started in the body carry the
        span's id as their job group."""
        if not self.enabled:
            yield None
            return
        stack, groups = self._stack(), self._stack("groups")
        parent = stack[-1] if stack else None
        sid = self.add(name, 0.0, 0.0, parent, **attrs)
        stack.append(sid)
        if spark is not None:
            groups.append(f"span-{sid}")
            spark.sparkContext.setJobGroup(groups[-1], name)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            self.spans[sid].start, self.spans[sid].end = start, time.perf_counter()
            stack.pop()
            if spark is not None:
                # back to the enclosing span's group, or to none
                groups.pop()
                spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", groups[-1] if groups else None)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)


# ---------------------------------------------------------------------------
# Spark event log

#: stage accumulables read per stage -> (metric, scale to the metric's unit)
STAGE_METRICS = {
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    # the on-disk size of each spill (memoryBytesSpilled is the same
    # spill's in-memory size, so adding both would count it twice)
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.output.bytesWritten": ("output_bytes", 1),
    # PythonSQLMetrics (ArrowEvalPython / mapInArrow)
    "time to run Python workers": ("python.total_s", 1e-3),
    "time to start Python workers": ("python.boot_s", 1e-3),
    "data sent to Python workers": ("python.sent_bytes", 1),
    "data returned from Python workers": ("python.received_bytes", 1),
}
STAGE_KEYS = sorted({m for m, _ in STAGE_METRICS.values()} | {"stages", "tasks"})


@dataclass
class JobInfo:
    group: str | None
    batch: int | None
    stages: list[int]


def read_event_log(path: str) -> tuple[list[JobInfo], dict[int, dict]]:
    """Jobs (with their job group / streaming batch id) and the
    per-stage totals of ``STAGE_METRICS`` from one event-log file."""
    jobs: list[JobInfo] = []
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                batch = props.get("streaming.sql.batchId")
                jobs.append(JobInfo(
                    props.get("spark.jobGroup.id"),
                    int(batch) if batch is not None else None,
                    list(ev.get("Stage IDs", ())),
                ))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                m = dict.fromkeys(STAGE_KEYS, 0.0)
                m["stages"] = 1
                m["tasks"] = info.get("Number of Tasks", 0)
                for acc in info.get("Accumulables", ()):
                    hit = STAGE_METRICS.get(acc.get("Name"))
                    if hit is not None:
                        try:
                            m[hit[0]] += float(acc.get("Value", 0)) * hit[1]
                        except (TypeError, ValueError):
                            pass
                prev = stages.get(info["Stage ID"])
                stages[info["Stage ID"]] = (
                    m if prev is None else {k: prev[k] + m[k] for k in m}
                )
    return jobs, stages


def sum_stages(jobs: list[JobInfo], stages: dict[int, dict]) -> dict:
    """Totals over the completed stages of ``jobs`` (each stage once)."""
    out = dict.fromkeys(STAGE_KEYS, 0.0)
    seen: set[int] = set()
    for j in jobs:
        for sid in j.stages:
            if sid in stages and sid not in seen:
                seen.add(sid)
                for k, v in stages[sid].items():
                    out[k] += v
    return out


def event_log_file(log_dir: str, app_id: str) -> str | None:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    return None
