"""Spans around calls into the package's layers, plus Spark's own
counters read back by job group after the measuring window.

A span records (name, layer, start, end, parent, op). Spans are opened by
the benchmark's own wrappers around public package functions
(``Tracer.wrap`` swaps a module attribute for a timing wrapper and puts
the original back on ``unwrap_all``); nothing inside the package is
edited. Every top-level operation runs under its own Spark job group, so
after the window the status store yields, per operation, its jobs,
stages, executor run and CPU time, shuffle bytes, spill, GC time and task
skew. Reading the store happens after the timed region, so it adds no
job and no time to the measured operations.
"""

from __future__ import annotations

import importlib
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    layer: str
    t0: float
    t1: float = 0.0
    w0: float = 0.0  # wall clock (epoch seconds) at t0 and t1
    w1: float = 0.0
    parent: int = -1
    op: str = ""

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.current_op = ""

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    @contextmanager
    def span(self, name: str, layer: str):
        parents = self._parents()
        sp = Span(
            name, layer, time.perf_counter(), w0=time.time(),
            parent=parents[-1] if parents else -1, op=self.current_op,
        )
        self.spans.append(sp)
        parents.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            sp.w1 = time.time()
            parents.pop()

    @contextmanager
    def op(self, group: str, name: str, layer: str):
        """One top-level operation: its own Spark job group and a root
        span of ``layer``."""
        self.current_op = group
        self.sc.setJobGroup(group, group)
        try:
            with self.span(name, layer):
                yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.current_op = ""

    def wrap(self, module: str, attr: str, layer: str, name: str | None = None):
        """Replace ``module.attr`` (a function, or ``Class.method`` when
        ``attr`` is dotted) with a wrapper that opens a span per call."""
        mod = importlib.import_module(module)
        owner = mod
        parts = attr.split(".")
        for p in parts[:-1]:
            owner = getattr(owner, p)
        orig = getattr(owner, parts[-1])
        span_name = name or f"{module.rsplit('.', 1)[-1]}.{attr}"
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(span_name, layer):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, parts[-1], wrapper)
        self._patched.append((owner, parts[-1], orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- span analysis --------------------------------------------------

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def sums_per_op(self, name: str) -> list[float]:
        """Total seconds of the ``name`` spans inside each operation."""
        per: dict[str, float] = defaultdict(float)
        for s in self.by_name(name):
            per[s.op] += s.seconds
        return list(per.values())

    def job_wall_within(self, sp: Span) -> float:
        """Wall seconds covered by Spark jobs of the span's operation
        that ran inside the span (overlapping jobs counted once)."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        lo, hi = sp.w0 * 1e3, sp.w1 * 1e3
        ivals = []
        for jid in st.getJobIdsForGroup(sp.op):
            try:
                jd = store.job(jid)
                a = jd.submissionTime().get().getTime()
                b = jd.completionTime().get().getTime()
            except Exception:  # noqa: BLE001 - evicted or still running
                continue
            a, b = max(a, lo), min(b, hi)
            if b > a:
                ivals.append((a, b))
        covered, end = 0.0, float("-inf")
        for a, b in sorted(ivals):
            if b <= end:
                continue
            covered += b - max(a, end)
            end = b
        return covered / 1e3

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part its
        direct children cover (children never overlap: one client)."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent >= 0:
                child[s.parent] += s.seconds
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.layer] += max(0.0, s.seconds - child[i])
        return dict(out)

    # -- Spark counters -------------------------------------------------

    def counters(self, groups: list[str]) -> dict:
        """Sum of stage metrics over every job of ``groups``."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict(
            jobs=0, tasks=0, run_s=0.0, cpu_s=0.0, shuffle_write_bytes=0, spill_bytes=0, gc_s=0.0,
        )
        skews: list[tuple[float, float]] = []
        seen: set[int] = set()
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                out["jobs"] += 1
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        sd = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 - evicted or never run
                        continue
                    if sd.status().toString() != "COMPLETE":
                        continue
                    out["tasks"] += sd.numTasks()
                    run = sd.executorRunTime() / 1e3
                    out["run_s"] += run
                    out["cpu_s"] += sd.executorCpuTime() / 1e9
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    out["gc_s"] += sd.jvmGcTime() / 1e3
                    if sd.numTasks() >= 2:
                        skews.append((self._stage_skew(store, sid, sd.attemptId()), run))
        w = sum(r for _, r in skews)
        out["task_skew"] = sum(s * r for s, r in skews) / w if w else 1.0
        out["cpu_util"] = out["cpu_s"] / out["run_s"] if out["run_s"] else 0.0
        return out

    @staticmethod
    def _stage_skew(store, sid: int, attempt: int) -> float:
        it = store.taskList(sid, attempt, 1 << 20).iterator()
        durs = []
        while it.hasNext():
            m = it.next().taskMetrics()
            if m.isDefined():
                durs.append(m.get().executorRunTime())
        med = statistics.median(durs) if durs else 0
        return max(durs) / med if med else 1.0


class StreamListener:
    """Collects ``StreamingQueryProgress`` per micro-batch (batch count
    and trigger execution time) for drains that run while registered."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.batches: list[dict] = []

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                outer.batches.append(
                    {
                        "rows": p.numInputRows,
                        "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        self.spark = spark
        spark.streams.addListener(self._listener)

    def remove(self) -> None:
        self.spark.streams.removeListener(self._listener)
