"""Measurement from outside the program: /proc for the process tree,
Spark's in-process status store for stage metrics, and the layer spans
of a traced pass.

Nothing here changes what Spark executes except ``setJobGroup``, which
only labels jobs.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we listed it
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def cpu_s(pids: list[int]) -> float:
    """User+system CPU of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields 14-17 of stat: utime stime cutime cstime
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_cpu_s() -> float:
    return cpu_s(tree())


def python_worker_cpu_s() -> float:
    """CPU of the PySpark daemon and its workers (the Python side of
    every UDF), i.e. descendants of the JVM that run pyspark."""
    pids = [p for p in tree()[1:] if "pyspark" in _cmdline(p)]
    return cpu_s(pids)


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak resident
    set (VmHWM): an upper bound on the tree's peak, read without a
    sampling thread."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


# ---------------------------------------------------------- Spark status


def wait_listeners(spark) -> None:
    """Block until the listener bus has delivered every event, so the
    status store holds the stages of every finished job."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_stage_metrics(spark, group: str) -> dict:
    """Summed stage metrics of every job Spark ran under ``group``, read
    from the in-process status store (works with the UI disabled)."""
    wait_listeners(spark)
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    out = {"jobs": len(jobs), "exec_cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "tasks": 0,
           "output_records": 0}
    for sid in stages:
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # py4j error: stage evicted from the store
            continue
        out["exec_cpu_s"] += s.executorCpuTime() / 1e9
        out["gc_s"] += s.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
        out["spill_mb"] += (s.diskBytesSpilled() + s.memoryBytesSpilled()) / 1e6
        out["tasks"] += s.numCompleteTasks()
        out["output_records"] += s.outputRecords()
    return out


def resident_mb(spark) -> float:
    """Memory + disk held by persisted RDDs and checkpoint blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


# ----------------------------------------------------------------- spans

LAYER_FIELDS = ("wall_s", "cpu_s", "gc_s", "shuffle_write_mb", "spill_mb",
                "rows_out", "tasks")


class Tracer:
    """Layer spans of traced passes, kept in memory.

    ``with tracer.layer(name) as extra:`` runs the body under
    ``setJobGroup(name)`` and records the span's wall time, its stage
    metrics and the Python-worker CPU over the span. The body sets
    ``extra["rows_out"]`` and any layer-specific counts."""

    def __init__(self, spark):
        self.spark = spark
        self.passes: list[dict[str, dict]] = []
        self._seq = 0

    def begin_pass(self) -> None:
        self.passes.append({})

    @contextlib.contextmanager
    def layer(self, name: str):
        self._seq += 1
        group = f"{name}#{self._seq}"  # unique: groups accumulate jobs
        sc = self.spark.sparkContext
        extra: dict = {}
        sc.setJobGroup(group, name)
        py0, t0 = python_worker_cpu_s(), time.perf_counter()
        try:
            yield extra
        finally:
            wall = time.perf_counter() - t0
            py = python_worker_cpu_s() - py0
            sc.setJobGroup("perfbench", "untraced")
        m = group_stage_metrics(self.spark, group)
        rec = {"wall_s": wall, "cpu_s": m["exec_cpu_s"] + py, "gc_s": m["gc_s"],
               "shuffle_write_mb": m["shuffle_write_mb"], "spill_mb": m["spill_mb"],
               "tasks": m["tasks"], "rows_out": m["output_records"], "jobs": m["jobs"]}
        for k, v in rec.items():
            extra.setdefault(k, v)
        # the same dict: counts the caller adds after the span still land
        self.passes[-1][name] = extra

    def pass_wall_s(self, i: int) -> float:
        return sum(r["wall_s"] for r in self.passes[i].values())

    def medians(self) -> dict[str, float]:
        """``{"<layer>.<metric>": median over traced passes}``."""
        keys = {(lay, k) for p in self.passes for lay, rec in p.items() for k in rec}
        return {f"{lay}.{k}": statistics.median(p[lay][k] for p in self.passes if lay in p)
                for lay, k in sorted(keys)}
