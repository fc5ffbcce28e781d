"""Spans recorded around calls into the package, and Spark's event log
folded per span.

Spans are kept in memory and written out once, when the run ends. Every
top-level span sets a Spark job group named after its span id, so the
event log's jobs map back to the span that issued them; jobs that carry
another group or none (thread-pool writes, the streaming thread) are
attributed to the top-level span whose time window holds their
submission, and counted as unattributed.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import threading
import time
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


class Tracer:
    """In-memory span recorder. A span's parent is the innermost open
    span of its thread, or the current top-level span for threads that
    opened none (pool and stream threads)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._top: Span | None = None
        self._next = 0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._top
        with self._lock:
            sid = self._next
            self._next += 1
        if op is None and parent is not None:
            op = parent.op
        s = Span(sid, name, time.time(), 0.0, parent.id if parent else None, op, attrs)
        top = parent is None
        if top:
            self._top = s
            if self.sc is not None:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()
            if top:
                self._top = None
                if self.sc is not None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    def wrap(self, name: str, fn, on_result=None):
        """``fn`` wrapped in a span; ``on_result(span, args, result)``
        may annotate the span."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, args, result)
                return result

        return traced

    def self_ms(self) -> dict[int, float]:
        """Each span's duration minus the union of its children's."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                cur_end = max(cur_end, c.end)
            out[s.id] = s.ms - covered * 1e3
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_ms()
        rows = [dict(asdict(s), self_ms=selfs[s.id]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"spans": rows, **extra}, f, indent=1)


@contextlib.contextmanager
def patched(obj, attr: str, replacement):
    original = getattr(obj, attr)
    setattr(obj, attr, replacement)
    try:
        yield original
    finally:
        setattr(obj, attr, original)


def fold_event_log(log_dir: str, tops: list[Span]) -> dict[int, dict]:
    """Spark's event log folded onto the top-level spans ``tops``:
    per span, jobs, stages, tasks, shuffle read/write and spill bytes,
    task GC and executor CPU time, and how many of its jobs lacked the
    span's job group."""
    # keys are (log file, id): each SparkContext writes its own log
    jobs: dict[tuple[str, int], dict] = {}
    stage_job: dict[tuple[str, int], tuple[str, int]] = {}
    tasks: list[tuple[tuple[str, int], dict]] = []
    stages_done: list[tuple[str, int]] = []
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[(path, jid)] = {
                        "t": ev["Submission Time"] / 1e3,
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    }
                    for st in ev.get("Stage IDs", []):
                        stage_job[(path, st)] = (path, jid)
                elif kind == "SparkListenerStageCompleted":
                    stages_done.append((path, ev["Stage Info"]["Stage ID"]))
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(((path, ev["Stage ID"]), ev.get("Task Metrics") or {}))

    by_id = {s.id: s for s in tops}

    def owner(job: dict) -> tuple[int | None, bool]:
        g = job["group"] or ""
        if g.startswith(GROUP_PREFIX) and int(g[len(GROUP_PREFIX) :]) in by_id:
            return int(g[len(GROUP_PREFIX) :]), True
        for s in tops:
            if s.start <= job["t"] <= s.end:
                return s.id, False
        return None, False

    keys = (
        "jobs stages tasks shuffle_read_mb shuffle_write_mb spill_mb gc_ms"
        " executor_cpu_ms unattributed_jobs"
    ).split()
    out = {s.id: dict.fromkeys(keys, 0) for s in tops}
    job_owner = {}
    for key, job in jobs.items():
        sid, grouped = owner(job)
        job_owner[key] = sid
        if sid is not None:
            out[sid]["jobs"] += 1
            out[sid]["unattributed_jobs"] += 0 if grouped else 1
    for st in set(stages_done):
        sid = job_owner.get(stage_job.get(st))
        if sid is not None:
            out[sid]["stages"] += 1
    mb = 1 / (1024 * 1024)
    for st, m in tasks:
        sid = job_owner.get(stage_job.get(st))
        if sid is None:
            continue
        o = out[sid]
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        o["tasks"] += 1
        o["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) * mb
        o["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) * mb
        o["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) * mb
        o["gc_ms"] += m.get("JVM GC Time", 0)
        o["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
    return out
