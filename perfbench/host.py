"""Host facts and process accounting, read from /proc.

Every run records the anchors a noisy-neighbour epoch shows up in:
stolen cores around each operation (``ingest_spark.benchutil``), the
core count, MemTotal and the Spark version. Peak memory is the sum of
VmHWM over the Spark driver JVM and every process under it (the Python
daemon and its workers), sampled after each operation so that workers
which exit early are still counted.
"""

from __future__ import annotations

import os
import time

from ingest_spark.benchutil import read_proc_stat, steal_cores


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    seen, stack = [], [pid]
    while stack:
        p = stack.pop()
        seen.append(p)
        stack.extend(_children(p))
    return seen


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


class PeakRss:
    """Per-process VmHWM maxima under a root pid, summed on demand."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.hwm_kb: dict[int, int] = {}

    def sample(self) -> None:
        for p in descendants(self.root_pid):
            kb = _vm_hwm_kb(p)
            if kb > self.hwm_kb.get(p, 0):
                self.hwm_kb[p] = kb

    def total_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0

    def by_process_mb(self) -> dict:
        return {p: round(kb / 1024.0, 1) for p, kb in self.hwm_kb.items()}


class Anchors:
    """Steal samples around operations plus the static host facts."""

    def __init__(self, spark_version: str):
        self.facts = {
            "nproc": nproc(),
            "mem_total_mb": round(mem_total_mb(), 1),
            "spark_version": spark_version,
        }
        self.ops: list[dict] = []
        self._run0 = (read_proc_stat(), time.perf_counter())

    def around(self, name: str, fn):
        """Run ``fn()``; record its wall and the cores stolen meanwhile."""
        s0, t0 = read_proc_stat(), time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
        self.ops.append({
            "op": name, "wall_s": wall,
            "steal_cores": steal_cores(s0, read_proc_stat(), wall),
        })
        return out

    def run_steal_cores(self) -> float:
        s0, t0 = self._run0
        return steal_cores(s0, read_proc_stat(), time.perf_counter() - t0)

    def report(self) -> dict:
        return {**self.facts, "run_steal_cores": self.run_steal_cores(),
                "ops": self.ops}
