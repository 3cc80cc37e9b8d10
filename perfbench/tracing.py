"""Spans, Spark status-store reads and host evidence for the benchmark.

Spans are kept in memory and written out when a run ends. In a traced
run every span also owns a Spark job group, so the jobs launched inside
a call (a builder's schema inference, an action's stages) are counted
against the span that launched them. Untraced runs use the same code
with a disabled tracer, whose spans record nothing.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time


class Tracer:
    """Records ``(id, name, start, end, parent, op)`` spans in memory.

    ``enabled=False`` makes ``span`` a no-op, so the untraced run pays
    neither the clock reads nor the job-group calls."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc, self.enabled = sc, enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "parent": parent and parent["id"],
             "op": self.op_id, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        group = f"perfbench-{os.getpid()}-{s['id']}"
        s["group"] = group
        self.sc.setJobGroup(group, name)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, s: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == s["id"]]

    def subtree(self, s: dict) -> list[dict]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover."""
        out: dict[str, float] = {}
        for s in self.spans:
            kids = sum(c["end"] - c["start"] for c in self.children(s))
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - kids)
        return out


class SparkStatus:
    """Reads Spark's own status store for the jobs of a job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.gateway = self.sc._gateway

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store holds the stages of the actions just finished."""
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, jobs: list[int]) -> list[dict]:
        tracker = self.sc.statusTracker()
        ids = sorted({sid for j in jobs
                      for sid in (getattr(tracker.getJobInfo(j), "stageIds", None) or [])})
        store = self.jsc.statusStore()
        out = []
        for sid in ids:
            try:
                attempts = store.stageData(sid, False, self.jvm.java.util.ArrayList(),
                                           False, self.gateway.new_array(self.jvm.double, 0))
            except Exception:  # stage skipped (its shuffle output was reused)
                continue
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.numCompleteTasks() == 0:
                    continue
                sub, done = d.submissionTime(), d.completionTime()
                wall = ((done.get().getTime() - sub.get().getTime()) / 1e3
                        if sub.isDefined() and done.isDefined() else 0.0)
                out.append({
                    "stage": sid, "tasks": d.numCompleteTasks(), "wall_s": wall,
                    "run_s": d.executorRunTime() / 1e3,
                    "cpu_s": d.executorCpuTime() / 1e9,
                    "gc_s": d.jvmGcTime() / 1e3,
                    "input_bytes": d.inputBytes(), "input_rows": d.inputRecords(),
                    "shuffle_read_bytes": d.shuffleReadBytes(),
                    "shuffle_read_rows": d.shuffleReadRecords(),
                    "shuffle_write_bytes": d.shuffleWriteBytes(),
                    "shuffle_write_rows": d.shuffleWriteRecords(),
                    "spill_bytes": d.diskBytesSpilled(),
                    "skew": self._skew(store, sid, d.attemptId()),
                })
        return out

    def _skew(self, store, sid: int, attempt: int) -> float:
        q = self.gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        dist = store.taskSummary(sid, attempt, q)
        if not dist.isDefined():
            return 1.0
        run = dist.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning time (ms) of ``df``'s own
    query execution, from ``queryExecution().tracker().phases()``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = p.get().durationMs() if p.isDefined() else 0.0
    return out


# ---------------------------------------------------------------- host

def jvm_times(spark) -> dict[str, float]:
    """The driver JVM's total JIT compilation and garbage-collection
    time so far, in seconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    return {"jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "gc_s": sum(gcs.get(i).getCollectionTime() for i in range(gcs.size())) / 1e3}


def _cpu_times() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    idle = f[3] + (f[4] if len(f) > 4 else 0)
    steal = f[7] if len(f) > 7 else 0
    total = sum(f[:8])
    return total - idle - steal, steal, total


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def descendants(root: int) -> list[int]:
    """Process ids of every descendant of ``root``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                st = fh.read()
        except OSError:  # the process has just exited
            continue
        kids.setdefault(int(st[st.rfind(")") + 2:].split()[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        found = kids.get(todo.pop(), [])
        out += found
        todo += found
    return out


def _tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants, as the sum
    of their proportional set sizes: pages shared between processes
    (a JVM and a short-lived child it forks) count once, not per
    process."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process has just exited
            pass
    return total


class HostMonitor:
    """Samples the process tree's resident memory in a background thread
    and takes CPU and load figures at start and stop."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, _tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._cpu0, self._load0 = _cpu_times(), _loadavg()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join(timeout=10)
        b1, s1, t1 = _cpu_times()
        b0, s0, t0 = self._cpu0
        dt = max(t1 - t0, 1)
        return {"cpu_busy_pct": 100.0 * (b1 - b0) / dt,
                "steal_pct": 100.0 * (s1 - s0) / dt,
                "load1_start": self._load0[0], "load1": _loadavg()[0],
                "peak_rss_mb": self.peak_rss / 2**20}
