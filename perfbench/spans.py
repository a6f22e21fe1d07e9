"""Spans around the engine's public entry points, installed from here.

``Tracer.wrap`` replaces a function or method where its caller looks it
up and records a span per call: name, start, end, parent span and the
operation it belongs to, plus the range of Spark job ids launched while
it ran.  ``restore`` puts every original back.  Spans stay in memory
and ``dump`` writes them as JSON lines when the run ends.

Spark work is read from ``statusTracker()`` (jobs, stages, tasks) and
the application status store (shuffle bytes, spill).
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.op = None
        self.cost = 0.0  # seconds spent in span bookkeeping inside ops
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    def last_job(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    @contextmanager
    def span(self, name: str):
        c0 = time.perf_counter()
        sid = len(self.spans)
        self.spans.append(None)  # reserve the id; filled on exit
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        j0, t0 = self.last_job(), time.perf_counter()
        self.cost += t0 - c0
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[sid] = {
                "id": sid, "parent": parent, "op": self.op, "name": name,
                "start": t0, "end": t1, "jobs": [j0 + 1, self.last_job()],
            }
            self.cost += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # ------------------------------------------------------------ reading

    def overhead_pct(self) -> float:
        """Bookkeeping time as a share of the traced ops' busy time.
        Outermost spans are the ops; their time includes the bookkeeping
        of every span nested in them."""
        busy = sum(s["end"] - s["start"] for s in self.done() if s["parent"] is None)
        return 100.0 * self.cost / busy if busy else 0.0

    def done(self) -> list[dict]:
        return [s for s in self.spans if s is not None]

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover."""
        spans = self.done()
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in spans}

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.done() if s["name"] == name]

    def stage_totals(self, job_range) -> dict:
        """Stages, tasks, failed tasks, shuffle-write and spill bytes of
        the jobs in ``job_range`` (inclusive ids)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict(stages=0, tasks=0, failed=0, shuffle_write=0, spill=0)
        for j in range(job_range[0], job_range[1] + 1):
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # evicted from the retained stage list
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["failed"] += sd.numFailedTasks()
                out["shuffle_write"] += sd.shuffleWriteBytes()
                out["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.done():
                f.write(json.dumps(s) + "\n")


def jvm_gc_ms(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans()))


def jvm_heap_peak_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
        if str(p.getType()) == "Heap memory"
    ) / 2**20


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants: the JVM and its Python workers, live or reaped.
    Read from /proc, so time the hypervisor steals is not in it."""
    tck = os.sysconf("SC_CLK_TCK")
    kids: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        kids[int(v[1])].append(int(d))
        ticks[int(d)] = sum(int(x) for x in v[11:15])  # utime stime cutime cstime
    total, todo = 0, [os.getpid()]
    while todo:
        p = todo.pop()
        total += ticks.get(p, 0)
        todo.extend(kids[p])
    return total / tck


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat, or (0, 0) off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return (v[7] if len(v) > 7 else 0), sum(v[:8])
