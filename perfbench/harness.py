"""Closed-loop timing, resource sampling and run controls shared by the
workloads.

One client issues one operation at a time and the next only after the
previous one returned (a closed loop). ``Loop`` times each operation and
records failures; run.py starts passes until the window has elapsed.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples beyond it: the 11th-largest sample. Below 21
    samples that percentile would not lie above the median, so the
    maximum is reported instead, as percentile 100."""
    s = sorted(xs)
    if len(s) < 21:
        return (s[-1] if s else float("nan")), 100.0
    k = len(s) - 11
    return s[k], round(100.0 * (k + 1) / len(s), 1)


def geomean_by_name(records: list, kind: str) -> float:
    """Geometric mean, over the op names of ``kind``, of each name's
    median time. An op mix has one or two samples of each of several
    unlike ops per pass; the median of the mix jumps between ops from run
    to run, while this mean weighs every op the same, in relative terms."""
    by: dict[str, list[float]] = defaultdict(list)
    for r in records:
        if r.kind == kind and r.ok:
            by[r.name].append(r.seconds)
    if not by:
        return float("nan")
    return math.exp(sum(math.log(median(v)) for v in by.values()) / len(by))


@dataclass
class OpRecord:
    kind: str  # "stage" | "write" | "query" | "drain" | "probe"
    name: str
    seconds: float
    ok: bool
    extra: dict = field(default_factory=dict)


class Loop:
    """Closed-loop driver for one measuring window."""

    def __init__(self, seconds: float, tracer=None):
        self.seconds = seconds
        self.tracer = tracer
        self.records: list[OpRecord] = []
        self.errors: list[str] = []
        self.t_start = 0.0

    def start(self) -> None:
        self.t_start = time.perf_counter()

    def expired(self) -> bool:
        return time.perf_counter() - self.t_start >= self.seconds

    def op(self, kind: str, name: str, fn: Callable[[], object], layer: str = "bench"):
        """Run ``fn`` once, timed; a raised exception counts as a failed
        op and returns None. With tracing on, the op runs under its own
        Spark job group inside a span of ``layer``."""
        group = f"{kind}:{name}:{len(self.records)}"
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                with self.tracer.op(group, name, layer):
                    out = fn()
            else:
                out = fn()
            ok = True
        except Exception:  # noqa: BLE001
            out = None
            ok = False
            self.errors.append(f"{name}: {traceback.format_exc(limit=4)}")
        self.records.append(
            OpRecord(kind, name, time.perf_counter() - t0, ok, {"group": group})
        )
        return out

    def seconds_of(self, kind: str | None = None, name: str | None = None) -> list[float]:
        return [
            r.seconds
            for r in self.records
            if r.ok and (kind is None or r.kind == kind) and (name is None or r.name == name)
        ]

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(not r.ok for r in self.records)


# ---------------------------------------------------------------------------
# memory and CPU accounting from /proc
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            kids[int(fields[1])].append(int(d))
        except (OSError, IndexError, ValueError):
            continue
    return kids


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with pages shared between
    processes (forked Python workers, shared libraries) split among
    them, so a sum over processes counts each page once."""
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of ``pids`` is running (gone or a zombie)."""
    deadline = time.monotonic() + timeout

    def running(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False

    while any(running(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU seconds of ``root`` and its live descendants."""
    ticks = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (this Python
    driver, the JVM it launched and the JVM's Python workers), summed as
    proportional set sizes."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            total += _pss_bytes(pid)
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Peak process-tree RSS while the context is open (5 Hz)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


@contextmanager
def steal_meter(out: dict):
    """Share of host CPU time stolen by the hypervisor over the block."""
    a = _cpu_times()
    try:
        yield
    finally:
        b = _cpu_times()
        d = [y - x for x, y in zip(a, b)]
        total = sum(d[:8]) or 1
        out["steal_frac"] = (d[7] if len(d) > 7 else 0) / total


def job_floor_p50(spark, n: int = 10) -> float:
    """Median wall time of a trivial one-row Spark job: the scheduling
    floor every operation pays, recorded as a noise control."""
    xs = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).count()
        xs.append(time.perf_counter() - t0)
    return median(xs)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, data files only (no hidden or
    ``_``-prefixed bookkeeping such as ``_SUCCESS``)."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def tree_bytes(path: str) -> int:
    """All bytes under ``path``, bookkeeping files included."""
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total
