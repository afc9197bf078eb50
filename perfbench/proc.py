"""The benchmark's process tree, read from /proc: the Python driver, the JVM
it starts and the Python workers under the JVM.

``tree_cpu_s`` is the CPU time the whole tree has used so far. The gated
timings are CPU time, not wall time: on a shared host the hypervisor takes
the cores away from time to time (CPU steal), which stretches wall time but
is not counted as CPU time of the guest's processes.
"""

from __future__ import annotations

import os
import time

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_CPUCLOCK_SCHED = 2


def _stats() -> dict[int, list[str]]:
    """The fields after ``comm`` in /proc/<pid>/stat of every process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue  # the process ended while the list was read
    return out


def _tree(stats: dict[int, list[str]], pid: int) -> list[int]:
    """``pid`` and its descendants."""
    children: dict[int, list[int]] = {}
    for p, v in stats.items():
        children.setdefault(int(v[1]), []).append(p)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _process_cpu_s(pid: int, stat: list[str]) -> float:
    """CPU seconds of every thread of ``pid``, ended ones too, read from the
    process's CPU-time clock (ns resolution; the clock id is what
    clock_getcpuclockid(3) returns). /proc's utime+stime, in clock ticks,
    if the process has ended in the meantime."""
    try:
        return time.clock_gettime(((~pid) << 3) | _CPUCLOCK_SCHED)
    except OSError:
        return (int(stat[11]) + int(stat[12])) * _TICK_S


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and its descendants,
    including descendants that have ended and been waited for (their time
    is in their parent's cutime/cstime)."""
    stats = _stats()
    return sum(
        _process_cpu_s(p, stats[p]) + (int(stats[p][13]) + int(stats[p][14])) * _TICK_S
        for p in _tree(stats, os.getpid())
    )


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> float:
    """Peak resident memory of this Python driver plus its JVM."""
    jvm = [p for p in _tree(_stats(), os.getpid())[1:] if _comm(p) == "java"]
    return sum(_status_kb(p, "VmHWM") for p in [os.getpid(), *jvm]) / 1024.0
