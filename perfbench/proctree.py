"""This process and its descendants (the Spark JVM, the pyspark daemon and
its Python workers), read from /proc."""

from __future__ import annotations

import os

_TICKS = os.sysconf("SC_CLK_TCK")


def children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids += [int(k) for k in f.read().split()]
    except OSError:
        pass
    return kids


def pids() -> list[int]:
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children(pid)
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_s() -> float:
    """CPU seconds the tree has used, user and system, including the
    children each process has reaped (so a Python worker that exits
    between two readings still counts).  Time the hypervisor steals from
    the VM is not in it."""
    ticks = 0
    for pid in pids():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICKS
