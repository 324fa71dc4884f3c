"""Measurement helpers that sit outside the engine.

- ``ProcTree``: CPU seconds and RSS of this process and all its descendants
  (the driver Python, the JVM and the PySpark daemon/workers), from /proc.
- ``host_snapshot``/``host_window``: steal share and load average, plus a
  fixed no-Spark numpy calibration kernel, so a contended window shows.
- ``GroupStats``: per-job-group counters from Spark's in-process status
  store (the UI is disabled by the session, the store is not).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:  # process ended between listing and reading
        return None
    # comm may contain spaces: split after the closing paren
    return raw[raw.rindex(")") + 2 :].split()


class ProcTree:
    """This process and every live descendant, re-listed on each read so
    Python workers forked mid-run are included."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(children.get(p, ()))
        return out

    def cpu_s(self) -> float:
        """utime+stime of live processes plus the reaped children's times
        their parents absorbed (cutime+cstime)."""
        ticks = 0
        for p in self.pids():
            f = _stat_fields(p)
            if f is not None:
                ticks += sum(int(x) for x in f[11:15])
        return ticks / _CLK

    def rss_mb(self) -> float:
        pages = 0
        for p in self.pids():
            f = _stat_fields(p)
            if f is not None:
                pages += int(f[21])
        return pages * _PAGE / 2**20


def host_snapshot() -> dict:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"ticks": sum(cpu[:8]), "steal": cpu[7], "load1": os.getloadavg()[0]}


def host_window(start: dict, end: dict) -> dict:
    ticks = max(end["ticks"] - start["ticks"], 1)
    return {
        "steal_share": (end["steal"] - start["steal"]) / ticks,
        "loadavg": (start["load1"] + end["load1"]) / 2,
        "loadavg_start": start["load1"],
        "loadavg_end": end["load1"],
    }


def calibration_s(reps: int = 5) -> float:
    """Median wall of a fixed numpy kernel (sort + matmul + transcendental
    pass on seeded data): a host-speed reference with no Spark in it."""
    rng = np.random.default_rng(12345)
    a = rng.random(400_000)
    m = rng.random((192, 192))
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        np.sort(a)
        m @ m @ m
        np.sqrt(np.exp(-a)).sum()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


class GroupStats:
    """Counters for every job run under one Spark job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()

    def stage_ids(self, group: str) -> tuple[int, list[int]]:
        jobs = self.tracker.getJobIdsForGroup(group)
        sids: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                sids.update(info.stageIds)
        return len(jobs), sorted(sids)

    def _stage_data(self, sid: int) -> list:
        try:
            seq = self.store.stageData(sid, False, None, False, None)
        except Exception:  # skipped stage: never submitted, no record
            return []
        return [seq.apply(i) for i in range(seq.size())]

    def shuffle_write_bytes(self, group: str) -> int:
        _, sids = self.stage_ids(group)
        return sum(
            int(sd.shuffleWriteBytes())
            for sid in sids
            for sd in self._stage_data(sid)
        )

    def summary(self, group: str) -> dict:
        """jobs, tasks, max task duration, shuffle write and spill bytes."""
        n_jobs, sids = self.stage_ids(group)
        tasks = shuffle = spill = 0
        max_ms = 0
        for sid in sids:
            for sd in self._stage_data(sid):
                tasks += int(sd.numCompleteTasks())
                shuffle += int(sd.shuffleWriteBytes())
                spill += int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled())
                tl = self.store.taskList(sid, int(sd.attemptId()), 1 << 20)
                for i in range(tl.size()):
                    d = tl.apply(i).duration()
                    if d.isDefined():
                        max_ms = max(max_ms, int(d.get()))
        return {
            "jobs": n_jobs,
            "tasks": tasks,
            "max_task_s": max_ms / 1000.0,
            "shuffle_write_bytes": shuffle,
            "spill_bytes": spill,
        }


def retained_storage_mb(spark) -> float:
    """Memory + disk held by persisted/checkpointed RDD blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos) / 2**20


def reset_between_passes(spark, settle_s: float = 0.5) -> None:
    """Python GC (drops py4j handles), then a driver-JVM GC so the
    ContextCleaner frees blocks nothing references; off the clock."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(settle_s)
