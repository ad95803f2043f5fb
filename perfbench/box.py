"""Process-tree and machine readings from /proc.

The tree is this Python process plus every descendant: the Spark JVM,
the pyspark daemon and its Python workers.  CPU time counts the live
members' own time plus the time of children they have already reaped,
so work done by a worker that exited is not lost.
"""

from __future__ import annotations

import os
import time

import numpy as np

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces or parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime + stime + cutime + cstime over the process tree, seconds."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(v) for v in fields[11:15])
    return total / _CLK


def tree_peak_rss(root: int | None = None) -> list[tuple[str, float]]:
    """(command name, peak resident set VmHWM in MiB) of each live
    tree member."""
    out = []
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out.append((fields["Name"].strip(),
                        int(fields["VmHWM"].split()[0]) / 1024.0))
    return out


def cpu_times() -> list[int]:
    """Aggregate jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total > 0 else 0.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def calibration_ms() -> float:
    """Median time of a fixed single-threaded numpy loop (sort 1M
    doubles from a fixed seed), in ms.  Compares the speed of the box
    between runs."""
    data = np.random.default_rng(0).random(1_000_000)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        np.sort(data, kind="quicksort")
        times.append((time.perf_counter() - t0) * 1000.0)
    return float(np.median(times))
