"""Measurements taken from outside the program: resident memory of the
driver's process tree and Spark's own per-stage counters."""

from __future__ import annotations

import os
import threading
from pathlib import Path

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of root_pid and all its descendants (JVM, Python workers)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in Path("/proc").iterdir():
        if not entry.name.isdigit():
            continue
        try:
            stat = (entry / "stat").read_text()
            statm = (entry / "statm").read_text()
        except OSError:
            continue  # process ended while we looked
        # the command name may hold spaces; fields after it are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        pid = int(entry.name)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = int(statm.split()[1]) * _PAGE
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class PeakRss:
    """Samples the process tree's RSS while active; keeps the maximum.
    One sample walks /proc (a few ms of driver CPU), hence the 0.25 s period."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._lock = threading.Lock()  # sampler thread and __exit__ both update the peak
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while True:
            self._active.wait()
            if self._stop.is_set():
                return
            self._sample()
            self._stop.wait(self.interval_s)

    def _sample(self) -> None:
        rss = _tree_rss_bytes(os.getpid())
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, rss)

    def __enter__(self) -> "PeakRss":
        self._active.set()
        return self

    def __exit__(self, *exc) -> None:
        self._active.clear()
        self._sample()

    def close(self) -> None:
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=5)


class SparkCounters:
    """Sums Spark's per-stage task metrics over the stages of one interval,
    read from the application status store (the data behind the UI and
    REST status API). One job runs at a time, so the stages created between
    ``mark()`` and ``since_mark()`` are exactly that job's."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._mark = self._max_stage_id()

    def _stages(self):
        gw = self._sc._gateway
        seq = self._store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
        )
        return gw.jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)

    def _max_stage_id(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def mark(self) -> None:
        self._mark = self._max_stage_id()

    def since_mark(self) -> dict[str, float]:
        out = {"shuffle_write_mb": 0.0, "spill_mb": 0.0, "executor_cpu_s": 0.0,
               "gc_s": 0.0, "tasks": 0.0}
        for s in self._stages():
            if s.stageId() <= self._mark:
                continue
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 2**20
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["tasks"] += s.numCompleteTasks()
        return out
