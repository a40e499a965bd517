"""Spans around calls into the engine's layers, plus Spark's counters.

Spans are recorded only by this benchmark: around the calls it makes
itself, and — in a traced run — around the engine's public layer
functions, which ``Tracer.patch`` wraps at every module that binds
them. Nothing inside the program changes. Spans stay in memory and are
written out once, at the end of the run.

A span is (id, name, layer, start, end, parent, op, thread). ``op`` is
the id of the timed operation (one search request, one ingest file, one
curation pass) it belongs to. Spans opened on a thread that has no open
span of its own — the stream's micro-batch thread — take the operation's
root span as parent.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import threading
import time
from dataclasses import asdict, dataclass

LAYERS = ("session", "sources", "functions", "plans", "operators", "streaming")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None
    thread: str


def union_length(intervals) -> float:
    """Total length covered by ``(lo, hi)`` intervals, overlaps once."""
    covered, cur = 0.0, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur is None or lo > cur[1]:
            if cur is not None:
                covered += cur[1] - cur[0]
            cur = [lo, hi]
        else:
            cur[1] = max(cur[1], hi)
    return covered + (cur[1] - cur[0] if cur is not None else 0.0)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part of it that its direct
    children cover (overlapping children counted once, clipped to the
    parent's interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    return {
        s.id: (s.end - s.start) - union_length(
            (max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.id, []))
        for s in spans
    }


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing.
    Untraced runs never patch, so they pay no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: int | None = None
        self._op_root: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else self._op_root
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, layer, time.perf_counter(), 0.0,
                                   parent, self._op, threading.current_thread().name))
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid].end = time.perf_counter()

    @contextlib.contextmanager
    def operation(self, op_id: int, name: str):
        """Root span of one timed operation."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        with self.span(name, "unattributed"):
            self._op_root = self._stack()[-1]
            try:
                yield
            finally:
                self._op_root = None
                self._op = None

    # ---------------------------------------------------------- patching
    def _wrap(self, fn, name: str, layer: str, ctx: bool):
        tracer = self
        if ctx:
            @contextlib.contextmanager
            def wrapper(*a, **kw):
                with tracer.span(name, layer), fn(*a, **kw) as v:
                    yield v
        else:
            def wrapper(*a, **kw):
                with tracer.span(name, layer):
                    return fn(*a, **kw)
        return functools.wraps(fn)(wrapper)

    def patch(self, module, attr: str, name: str, layer: str, ctx: bool = False) -> None:
        """Wrap ``module.attr`` in a span, at every loaded
        ``crawler_spark`` module that binds the same object (so
        ``from x import f`` bindings are covered too). The wrapper
        records only while the tracer is enabled."""
        fn = getattr(module, attr)
        wrapped = self._wrap(fn, name, layer, ctx)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith("crawler_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is fn:
                    self._patches.append((mod, key, fn))
                    setattr(mod, key, wrapped)

    def patch_public(self, module, layer: str) -> None:
        """``patch`` every public function defined in ``module``."""
        prefix = module.__name__.removeprefix("crawler_spark.")
        for attr, fn in list(vars(module).items()):
            if (not attr.startswith("_") and callable(fn) and not isinstance(fn, type)
                    and getattr(fn, "__module__", None) == module.__name__):
                self.patch(module, attr, f"{prefix}.{attr}", layer)

    def patch_method(self, cls, attr: str, name: str, layer: str) -> None:
        fn = getattr(cls, attr)
        self._patches.append((cls, attr, fn))
        setattr(cls, attr, self._wrap(fn, name, layer, ctx=False))

    def unpatch(self) -> None:
        for owner, key, fn in reversed(self._patches):
            setattr(owner, key, fn)
        self._patches.clear()

    # ------------------------------------------------------------ output
    def op_spans(self, op_ids: set[int]) -> list[Span]:
        return [s for s in self.spans if s.op in op_ids]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ------------------------------------------------------------ spark side
SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "gc_s", "shuffle_read_b", "shuffle_write_b", "spill_b",
                  "input_rows", "input_bytes", "driver_s")


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkCounters:
    """Per-operation Spark counters, read from the status store right
    after the operation ends (outside its timed window).

    Jobs are found by job group: ``begin`` tags the driver thread with a
    fresh group. A stream's jobs cannot be tagged that way: the
    micro-batch thread keeps the local properties it had at
    ``start()``, and the ``foreachBatch`` body runs on a Python callback
    thread with none. Stream operations therefore pass the stream's
    group plus ``None`` (untagged jobs) and take the jobs submitted
    inside the operation's time window. The store keeps only the last
    1000 jobs and stages, so read it after every operation."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self._seen: set[int] = set()

    def begin(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def collect(self, groups: list[str | None], t0_wall: float,
                t1_wall: float) -> dict[str, float]:
        """Counters of the groups' not-yet-seen jobs submitted inside the
        window. ``t0_wall`` and ``t1_wall`` are the operation's
        epoch-second bounds; the part of that window no job covered is
        the driver's own time."""
        tracker = self.sc.statusTracker()
        jids = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)} - self._seen)
        self._seen.update(jids)
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        intervals = []
        for jid in jids:
            jd = self.store.job(jid)
            s, e = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if s is not None and s < t0_wall - 0.002:
                continue  # an earlier operation's job (store times are in ms)
            if s is not None and e is not None:
                intervals.append((max(s, t0_wall), min(e, t1_wall)))
            out["jobs"] += 1
            it = jd.stageIds().iterator()
            while it.hasNext():
                st = self.store.lastStageAttempt(it.next())
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_b"] += st.shuffleReadBytes()
                out["shuffle_write_b"] += st.shuffleWriteBytes()
                out["spill_b"] += st.diskBytesSpilled() + st.memoryBytesSpilled()
                out["input_rows"] += st.inputRecords()
                out["input_bytes"] += st.inputBytes()
        out["driver_s"] = max(0.0, (t1_wall - t0_wall) - union_length(intervals))
        return out
