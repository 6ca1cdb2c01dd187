"""Process meters read straight from ``/proc`` (no psutil dependency).

CPU is counted over the Python driver plus the JVM and every process
the JVM forked (the PySpark worker daemon and its workers), including
the time of children they have already reaped, so work moved between
the JVM and Python workers still shows.  Peak RSS (VmHWM) is taken
for the JVM and the driver, the two long-lived processes.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def cpu_seconds(pid: int) -> float:
    """utime + stime + cutime + cstime of one process, in seconds."""
    fields = _stat_fields(pid)
    if fields is None:
        return 0.0
    # fields[0] is the state (stat field 3); utime..cstime are 14..17
    return sum(int(fields[i]) for i in range(11, 15)) / _CLK_TCK


def _children(pid: int) -> list[int]:
    # a child is listed under the thread that forked it, and the JVM
    # forks from worker threads, so every thread's list is read
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def tree_cpu_seconds(pids: list[int]) -> float:
    """CPU seconds of the given processes and all their descendants."""
    seen: set[int] = set()
    total = 0.0
    for root in pids:
        for p in descendants(root):
            if p not in seen:
                seen.add(p)
                total += cpu_seconds(p)
    return total


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of one process in MiB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0
