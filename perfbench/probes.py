"""Measurements taken from outside the program: process CPU and peak RSS
from ``/proc``, engine totals from Spark's status store, JVM heap peaks
from the memory-pool MX beans, and an in-memory span recorder.

None of this touches program code. Spans wrap public calls made from the
benchmark's own files (or, in the traced run, ``CheckpointStore`` methods
patched at runtime from here).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _children(root: int) -> list[int]:
    """All live descendants of ``root``."""
    parent: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = parent.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


class Host:
    """CPU and memory of the JVM and of its Python-worker descendants."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def workers(self) -> list[int]:
        return [p for p in _children(self.jvm_pid) if _is_python(p)]

    def jvm_cpu_s(self) -> float:
        st = _stat(self.jvm_pid)
        return (int(st[11]) + int(st[12])) / _TICK if st else 0.0

    def py_cpu_s(self) -> float:
        """Own plus reaped-children CPU of every Python worker process, so
        workers that already exited still count through their daemon."""
        total = 0
        for pid in self.workers():
            st = _stat(pid)
            if st:
                total += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
        return total / _TICK

    def worker_peak_rss_mb(self) -> float:
        """Summed VmHWM of the live Python worker processes."""
        kb = 0
        for pid in self.workers():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                pass
        return kb / 1024


class Engine:
    """Cumulative task time, GC, shuffle and spill totals from the status
    store (available with ``spark.ui.enabled=false``), and the JVM heap
    peak since the last ``reset_heap_peak``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()

    def totals(self) -> dict:
        ex = self.store.executorList(True)
        task_ms = gc_ms = sr = sw = 0
        for i in range(ex.size()):
            e = ex.apply(i)
            task_ms += e.totalDuration()
            gc_ms += e.totalGCTime()
            sr += e.totalShuffleRead()
            sw += e.totalShuffleWrite()
        jobs = self.sc.statusTracker().getJobIdsForGroup(None)
        return {
            "task_s": task_ms / 1e3,
            "gc_s": gc_ms / 1e3,
            "shuffle_read_mb": sr / 2**20,
            "shuffle_write_mb": sw / 2**20,
            "jobs": (max(jobs) + 1) if jobs else 0,
        }

    def spill_mb(self) -> float:
        """Disk spill summed over every retained stage. One py4j call per
        stage, so it is sampled only around the span that reports it."""
        stages = self.store.stageList(
            None, False, False, self.sc._gateway.new_array(self.jvm.double, 0), None
        )
        return sum(stages.apply(i).diskBytesSpilled() for i in range(stages.size())) / 2**20

    def _heap_pools(self):
        mf = self.jvm.java.lang.management.ManagementFactory
        heap = self.jvm.java.lang.management.MemoryType.HEAP
        pools = mf.getMemoryPoolMXBeans()
        return [pools.get(i) for i in range(pools.size()) if pools.get(i).getType() == heap]

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools():
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools()) / 2**20


class Tracer:
    """In-memory spans (name, start, end, parent) with engine and CPU
    deltas per span; ``dump`` writes them as JSON at the end of a run."""

    def __init__(self, engine: Engine, host: Host):
        self.engine, self.host = engine, host
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _sample(self) -> dict:
        s = self.engine.totals()
        s["jvm_cpu_s"] = self.host.jvm_cpu_s()
        s["py_cpu_s"] = self.host.py_cpu_s()
        return s

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        before = self._sample()
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            after = self._sample()
            self._stack.pop()
            rec["wall_s"] = rec["end"] - rec["start"]
            for k, v in after.items():
                rec[k] = v - before[k]

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str, key: str = "wall_s") -> float:
        return sum(s[key] for s in self.find(name))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
