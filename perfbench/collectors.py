"""Process-tree and Spark status-store collectors.

``ProcTree`` samples ``/proc`` for the benchmark process and every
descendant (the Spark JVM, the PySpark daemon and its Python workers):
CPU seconds from ``utime + stime`` deltas and peak resident memory from
``VmHWM``. ``psutil`` is not available, so this reads ``/proc`` directly.

``StageLedger`` reads per-stage task metrics from the Spark driver's live
status store (``spark.ui.enabled=false`` keeps the store, not the UI).
It is read only after the measured job has ended, so an untraced run
pays nothing for it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _cpu_s(pid: int) -> float | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields[0] is field 3 (state); utime and stime are fields 14 and 15
    return (int(fields[11]) + int(fields[12])) / _TICK


def _hwm_kb(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class ProcTree:
    """CPU seconds and summed peak RSS of a process tree over a window.

    A background thread re-reads the tree every ``interval`` seconds so
    that Python workers which exit inside the window still count."""

    def __init__(self, root: int, interval: float = 0.25):
        self.root = root
        self.interval = interval
        self._start: dict[int, float] = {}
        self._last: dict[int, float] = {}
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _pids(self) -> list[int]:
        seen, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            seen.append(pid)
            todo.extend(_children(pid))
        return seen

    def _sample(self) -> None:
        for pid in self._pids():
            cpu = _cpu_s(pid)
            if cpu is not None:
                self._last[pid] = cpu
            hwm = _hwm_kb(pid)
            if hwm is not None:
                self._hwm[pid] = max(hwm, self._hwm.get(pid, 0))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> None:
        for pid in self._pids():
            cpu = _cpu_s(pid)
            if cpu is not None:
                self._start[pid] = cpu
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._sample()

    def cpu_s(self) -> float:
        return sum(v - self._start.get(pid, 0.0) for pid, v in self._last.items())

    def peak_rss_mb(self) -> float:
        return sum(self._hwm.values()) / 1024.0


def tree_peak_rss_mb(root: int) -> float:
    """Summed ``VmHWM`` of ``root`` and its live descendants, read now."""
    tree = ProcTree(root)
    tree._sample()
    return tree.peak_rss_mb()


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class StageLedger:
    """Per-stage task metrics from the SparkContext's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()

    def _stages(self) -> dict[int, object]:
        jvm = self._sc._jvm
        q = self._sc._gateway.new_array(jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        stages = self._store.stageList(
            jvm.java.util.ArrayList(), False, True, q, jvm.java.util.ArrayList())
        return {s.stageId(): s for s in _seq(stages) if s.status().toString() == "COMPLETE"}

    def stage_ids(self) -> set[int]:
        return set(self._stages())

    def job_groups(self) -> dict[str, dict]:
        """``jobGroup -> {"jobs": n, "stages": [ids]}``."""
        out: dict[str, dict] = {}
        for j in _seq(self._store.jobsList(self._sc._jvm.java.util.ArrayList())):
            g = j.jobGroup()
            if not g.isDefined():
                continue
            e = out.setdefault(g.get(), {"jobs": 0, "stages": []})
            e["jobs"] += 1
            e["stages"].extend(_seq(j.stageIds()))
        return out

    def totals(self, stage_ids) -> dict[str, float]:
        """Summed metrics over the completed stages in ``stage_ids``.

        ``task_skew`` is max / median task run time of the stage that
        ran longest (summed over its tasks)."""
        stages = self._stages()
        picked = [stages[i] for i in set(stage_ids) if i in stages]
        t = {
            "tasks": sum(s.numCompleteTasks() for s in picked),
            "gc_s": sum(s.jvmGcTime() for s in picked) / 1e3,
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in picked),
            "shuffle_read_bytes": sum(s.shuffleReadBytes() for s in picked),
            "task_skew": 0.0,
        }
        if picked:
            heavy = max(picked, key=lambda s: s.executorRunTime())
            d = heavy.taskMetricsDistributions()
            if d.isDefined():
                med, top = _seq(d.get().executorRunTime())
                t["task_skew"] = top / med if med > 0 else float(top > 0)
        return t
