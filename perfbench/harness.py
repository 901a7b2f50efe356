"""Measurement plumbing shared by the workloads: process-tree memory
sampling, spans, Spark job-group counters, failure accounting and
percentiles.

Everything here observes the engine from outside: it calls the
package's public functions and reads Spark's own status tracker and
status store.  Nothing in the engine is patched except where a workload
says so explicitly (the streaming sink wrapper in traced runs).
"""

from __future__ import annotations

import os
import statistics
import threading
import time
import traceback


def pct(values, q: float) -> float:
    """Percentile ``q`` (0-100) with linear interpolation between ranks;
    the median for ``q == 50``."""
    vals = sorted(values)
    if not vals:
        return 0.0
    if len(vals) == 1:
        return float(vals[0])
    pos = (len(vals) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return float(vals[lo] + (vals[hi] - vals[lo]) * (pos - lo))


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# --- process tree ------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
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
    (the Spark JVM, the Python workers it forks, this harness), sampled
    every ``interval`` seconds on a daemon thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --- spans -------------------------------------------------------------------

class Tracer:
    """In-memory spans: (id, name, start, end, parent, request).  Disabled
    tracers record nothing and cost one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent=None,
            request=None) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start": start,
                           "end": end, "parent": parent, "request": request})
        return sid

    def span(self, name: str, request=None):
        return _Span(self, name, request)

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval its children cover (children of one span do not
        overlap, since every span here is on one thread)."""
        covered: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] = covered.get(s["parent"], 0.0) + (
                    s["end"] - s["start"])
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - covered.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str, request):
        self.tracer, self.name, self.request = tracer, name, request
        self.id = None

    def __enter__(self):
        self.start = time.time()
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            self.id = t.add(self.name, self.start, self.start, parent,
                            self.request)
            t._stack.append(self.id)
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        t = self.tracer
        if t.enabled:
            t._stack.pop()
            t.spans[self.id]["end"] = self.end
        return False


# --- Spark job-group counters ----------------------------------------------------

JOB_COUNTERS = ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_bytes",
                "spill_bytes")


def job_group_counters(spark, group: str) -> dict[str, float]:
    """Work Spark did for every job tagged ``group``: job, stage and task
    counts, executor CPU seconds, shuffle bytes written and bytes spilled
    (memory + disk), from the status tracker and the status store.
    Skipped stages (reused shuffle output) count as stages but add no
    tasks or bytes."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    try:
        # the status store is fed asynchronously by the listener bus
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 - best effort; counters may lag
        time.sleep(0.05)
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    out = dict.fromkeys(JOB_COUNTERS, 0.0)
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            out["stages"] += 1
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            if str(sd.status()) == "SKIPPED":
                continue
            out["tasks"] += sd.numCompleteTasks()
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


# --- failure accounting --------------------------------------------------------

class Ops:
    """Attempted / failed / retried operation counts.  An operation that
    raises is retried once; the retry is counted, and the operation counts
    as failed only if the retry raises too.  Nothing is retried silently."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.retried = 0
        self.errors: list[str] = []

    def run(self, name: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - counted and reported below
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")
            self.retried += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001
            self.errors.append(f"{name} (retry): {traceback.format_exc(limit=3)}")
            self.failed += 1
            return None

    def fail(self, name: str, why: str) -> None:
        """Record an operation that completed but produced a wrong result."""
        self.failed += 1
        self.errors.append(f"{name}: {why}")
