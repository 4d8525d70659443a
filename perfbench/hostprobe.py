"""Host and process-tree readings from ``/proc`` (Linux, stdlib only).

The process tree is this interpreter plus every descendant: the Spark
JVM it launched and the JVM's Python daemon and workers.  CPU time is
utime+stime of each live process plus the cutime+cstime it collected
from reaped children, so a worker that exits inside a window keeps its
time in the parent's total and nothing is counted twice.
"""

from __future__ import annotations

import os
import platform
import time

TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we listed
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended: only its exit status
    waits to be collected, possibly by an init that never does)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_cpu_s() -> float:
    total = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields after the comm: utime=11, stime=12, cutime=13, cstime=14
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / TICK


def tree_peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set."""
    kib = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return kib / 1024.0


def cpu_stat() -> tuple[int, int]:
    """Busy and steal ticks summed over all host CPUs (``/proc/stat``:
    user nice system idle iowait irq softirq steal; guest time is
    already inside user)."""
    with open("/proc/stat") as fh:
        d = [int(x) for x in fh.readline().split()[1:9]]
    return d[0] + d[1] + d[2] + d[5] + d[6], d[7]


def net_of_steal(wall: float, start: tuple[int, int],
                 end: tuple[int, int]) -> float:
    """``wall`` less the hypervisor's share of the CPU time in it.

    An idle vCPU accrues no steal, so the share is taken of the CPU
    time the host ran or lost, not of all time: ``steal / (busy +
    steal)``.  A thread that runs through a stretch where that share
    is ``s`` gets ``1 - s`` of the time it is owed, so it finishes in
    ``wall * (1 - s)`` on a host that steals nothing."""
    busy, steal = end[0] - start[0], end[1] - start[1]
    return wall * (1.0 - steal / (busy + steal)) if busy + steal else wall


class HostWindow:
    """Steal and busy fractions of all host CPUs over a window."""

    def __init__(self) -> None:
        self.start = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]

    def fractions(self) -> dict[str, float]:
        end = self._read()
        d = [b - a for a, b in zip(self.start, end)]
        # user nice system idle iowait irq softirq steal (guest is
        # already inside user)
        total = sum(d[:8]) or 1
        idle = d[3] + d[4]
        return {"steal_frac": d[7] / total,
                "busy_frac": (total - idle - d[7]) / total}


class Stopwatch:
    """Wall, wall net of steal and process-tree CPU of one stretch of
    work."""

    def __init__(self, cpu: bool = True) -> None:
        self.cpu0 = tree_cpu_s() if cpu else None
        self.stat0 = cpu_stat()
        self.t0 = time.perf_counter()

    def stop(self) -> dict[str, float]:
        wall = time.perf_counter() - self.t0
        out = {"wall_s": wall,
               "net_s": net_of_steal(wall, self.stat0, cpu_stat())}
        if self.cpu0 is not None:
            out["cpu_s"] = tree_cpu_s() - self.cpu0
        return out


def host_record(seed: int, spark) -> dict:
    system = spark.sparkContext._jvm.java.lang.System
    return {"seed": seed,
            "nproc": len(os.sched_getaffinity(0)),
            "loadavg": os.getloadavg(),
            "python": platform.python_version(),
            "java": f"{system.getProperty('java.vm.name')} "
                    f"{system.getProperty('java.version')}",
            "spark": spark.version}
