"""The measured process tree, read from /proc (psutil is not
installed): its members, their memory and their CPU time."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def ppids() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # comm may hold spaces and parens; fields resume after the last ')'
                out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return out


def descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, ppid in ppids().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def resident_mb(pid: int) -> tuple[float, bool]:
    """(resident MB, is a JVM) of one process; (0, False) if gone.
    Counted as PSS, which splits each shared page among the processes
    mapping it: pyspark forks its Python workers from one daemon, and
    summing their plain RSS would count the shared pages once per
    worker alive at the moment of the sample."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            is_jvm = f.read().strip() == "java"
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024.0, is_jvm
    except OSError:
        pass
    return 0.0, False


class RssPeak:
    """Peak resident memory of the measured tree: in total, of the JVM,
    and of the Python processes (driver, pyspark daemon and workers)."""

    def __init__(self) -> None:
        self.total = self.jvm = self.python = 0.0

    def sample(self, root: int) -> None:
        jvm = py = 0.0
        for pid in descendants(root):
            mb, is_jvm = resident_mb(pid)
            if is_jvm:
                jvm += mb
            else:
                py += mb
        self.total = max(self.total, jvm + py)
        self.jvm = max(self.jvm, jvm)
        self.python = max(self.python, py)


def cpu_s(root: int) -> float:
    """CPU seconds used by the tree so far: user and system time of each
    live member plus that of its children it has reaped, so a Python
    worker that has exited still counts. Time the hypervisor gave to
    other guests (steal) is not in it, which makes it steadier than
    wall time on a shared host."""
    ticks = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            pass
    return ticks / CLK_TCK
