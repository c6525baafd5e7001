"""Sample statistics and host readings for the benchmark."""

from __future__ import annotations

import math
import os
import statistics


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile ``p`` whose nearest-rank value still
    has at least ``beyond`` samples strictly above it, as ``(p, value)``.

    With 100 distinct samples this is p90; with 1000, p99. ``None`` when
    no percentile from the median up qualifies: below that it is no
    tail."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 49, -1):
        v = xs[max(1, math.ceil(p * n / 100)) - 1]
        if sum(1 for x in xs if x > v) >= beyond:
            return p, v
    return None


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# -- host readings ----------------------------------------------------------


def cpu_times() -> list[int]:
    """Aggregate ``cpu`` jiffies from /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_noise(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and iowait as a percentage of all CPU time between readings."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d) or 1
    return {"steal_pct": 100.0 * d[7] / total, "iowait_pct": 100.0 * d[4] / total}


def host_record() -> dict:
    return {
        "loadavg": os.getloadavg(),
        "nproc": os.cpu_count(),
        "affinity": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
    }


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process, in clock ticks."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def _tree() -> list[int]:
    """This process and every descendant (the JVM and its Python workers)."""
    todo, seen = [os.getpid()], []
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.append(pid)
            todo += _children(pid)
    return seen


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree; time the host steals
    is not in it."""
    return sum(_cpu_ticks(pid) for pid in _tree()) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak RSS of the process tree, in MB."""
    return sum(_vm_hwm_kb(pid) for pid in _tree()) / 1024.0
