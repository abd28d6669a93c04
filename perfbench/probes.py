"""Read-only probes of the running program: Spark job and stage counts per
operation, executed-plan SQL metrics, the no-op floor, and process memory.
None of them changes a Spark conf."""

from __future__ import annotations

import os
import time

_STAGE_WRAPPERS = ("ShuffleQueryStageExec", "BroadcastQueryStageExec",
                   "ResultQueryStageExec", "TableCacheQueryStageExec")


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages run, stages skipped and tasks completed under one job
    group, from the status tracker (works with the UI off). A stage listed
    by a job that completed no task was skipped: its shuffle output was
    already materialized by an earlier job."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = skipped = tasks = 0
    for s in stages:
        info = tracker.getStageInfo(s)
        if info is None or info.numCompletedTasks == 0:
            skipped += 1
        else:
            ran += 1
            tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": ran, "stages_skipped": skipped,
            "tasks": tasks}


def plan_bytes(df) -> tuple[int, int]:
    """(shuffle bytes written, bytes spilled) summed over the executed plan,
    walking into adaptive query stages."""
    shuffle = spill = 0
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        metrics = node.metrics()
        if name == "ShuffleExchangeExec" and metrics.contains("dataSize"):
            shuffle += metrics.apply("dataSize").value()
        if metrics.contains("spillSize"):
            spill += metrics.apply("spillSize").value()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif name in _STAGE_WRAPPERS:
            todo.append(node.plan())
        else:
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))
    return shuffle, spill


def noop_ms(spark, n: int = 5) -> list[float]:
    """``spark.range(1).collect()`` latencies: the scheduling floor."""
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).collect()
        out.append((time.perf_counter() - t0) * 1e3)
    return out


def gc_count(spark) -> int:
    """Collections the JVM's garbage collectors have run so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionCount() for b in mf.getGarbageCollectorMXBeans())


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of a process (``VmHWM``), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def python_loop_ms(n: int = 5) -> float:
    """Median time of a fixed pure-Python loop: how fast the host runs
    single-threaded work right now, independent of the JVM."""
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        sum(i * i for i in range(300_000))
        out.append((time.perf_counter() - t0) * 1e3)
    return sorted(out)[n // 2]


def cpu_times() -> list[int]:
    """Host-wide jiffies from ``/proc/stat``: user nice system idle iowait
    irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def tree_bytes_files(path: str) -> tuple[int, int]:
    """Bytes and number of files under a directory."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files
