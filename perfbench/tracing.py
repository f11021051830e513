"""Spans, Spark task counts, JVM and process resources, environment stamp.

Spans are recorded by the benchmark around its calls into each layer of
the package (the package itself is not instrumented). A span sets the
Spark job group to an id of its own, so the tasks Spark ran inside it can
be read back from ``SparkContext.statusTracker()`` when it ends.
"""

from __future__ import annotations

import json
import os
import platform
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span log: (name, start, end, parent, run_id, counts).

    With ``enabled`` False every method is a no-op, so the untraced run
    executes exactly the calls the workload makes and nothing else."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        rec = {
            "name": name,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "parent_idx": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "tasks": 0,
            "failed_tasks": 0,
        }
        self.spans.append(rec)
        idx = len(self.spans) - 1
        group = f"{self.run_id}:{idx}:{name}"
        sc.setJobGroup(group, name)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["tasks"], rec["failed_tasks"] = _task_counts(sc, group)
            if self._stack:
                parent = self.spans[self._stack[-1]]
                sc.setJobGroup(f"{self.run_id}:{self._stack[-1]}:{parent['name']}",
                               parent["name"])
            else:
                sc.setJobGroup(self.run_id, "untraced")

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the time its direct
        children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent_idx"] is not None:
                child[s["parent_idx"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            out.setdefault(s["name"], []).append(s["end"] - s["start"] - child[i])
        return out

    def totals(self, key: str) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0) + s[key]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _task_counts(sc, group: str) -> tuple[int, int]:
    st = sc.statusTracker()
    tasks = failed = 0
    for job_id in st.getJobIdsForGroup(group):
        job = st.getJobInfo(job_id)
        for stage_id in job.stageIds if job else ():
            stage = st.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numCompletedTasks
                failed += stage.numFailedTasks
    return tasks, failed


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of process ``root`` and its descendants
    (the driver JVM and Spark's Python workers), from /proc/<pid>/stat.
    Each process counts its reaped children too (cutime, cstime), so a
    Python worker that exits keeps its seconds in its parent's sum."""
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root:
            total += ticks
    return total / _CLK_TCK


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
    """Samples the resident set of this Python process plus the driver JVM
    from /proc every ``interval`` seconds; ``peak_mb`` is the largest sum
    seen."""

    def __init__(self, pids: list[int], interval: float = 0.05):
        self.pids = pids
        self.interval = interval
        self.peak_kb = 0
        self.peak_each_kb = [0] * len(pids)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            each = [_rss_kb(p) for p in self.pids]
            self.peak_kb = max(self.peak_kb, sum(each))
            self.peak_each_kb = [max(a, b) for a, b in zip(self.peak_each_kb, each)]
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


class JvmBeans:
    """GC time and heap-pool peaks from java.lang.management."""

    def __init__(self, spark):
        self.mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory

    def gc_s(self) -> float:
        return sum(max(0, b.getCollectionTime())
                   for b in self.mf.getGarbageCollectorMXBeans()) / 1000.0

    def heap_pools(self):
        return [p for p in self.mf.getMemoryPoolMXBeans()
                if str(p.getType().toString()) == "Heap memory"]

    def reset_heap_peak(self) -> None:
        for p in self.heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.heap_pools()) / 2**20


def environment(spark, seed: int) -> dict:
    import duckdb
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
    }
