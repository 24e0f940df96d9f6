"""Process-tree CPU, memory and host-noise readings from ``/proc``.

The benchmark's load runs in three kinds of process: this Python
process, the JVM it launches, and the Python workers the JVM forks.
Workers come and go; an exited worker's CPU time moves into its
parent's ``cutime``/``cstime`` once the parent reaps it, so summing
``utime + stime + cutime + cstime`` over the live tree counts exited
workers too.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int):
    """(comm, ppid, utime, stime, cutime, cstime, rss_bytes) or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:  # the process ended between listing and reading
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    f = raw[raw.rindex(")") + 2 :].split()
    # fields after comm, 0-based: 1 ppid, 11-14 times, 21 rss pages
    return comm, int(f[1]), int(f[11]), int(f[12]), int(f[13]), int(f[14]), int(f[21]) * _PAGE


def _children() -> dict:
    kids: dict = {}
    stats: dict = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                kids.setdefault(st[1], []).append(int(name))
    return kids, stats


@dataclass
class TreeSample:
    python_s: float  # this process, all threads
    jvm_s: float  # the JVM's own threads
    worker_s: float  # everything below the JVM, exited workers included
    rss_mb: float

    @property
    def total_s(self) -> float:
        return self.python_s + self.jvm_s + self.worker_s

    def minus(self, other: "TreeSample") -> "TreeSample":
        return TreeSample(
            self.python_s - other.python_s,
            self.jvm_s - other.jvm_s,
            self.worker_s - other.worker_s,
            self.rss_mb,
        )


def descendants(root: int) -> list:
    kids, _ = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for child in kids.get(pid, []):
            out.append(child)
            todo.append(child)
    return out


def sample_tree(root: int | None = None) -> TreeSample:
    """CPU seconds of the process tree under ``root`` (default: this
    process), split into Python driver, JVM and JVM descendants."""
    root = os.getpid() if root is None else root
    kids, stats = _children()
    me = stats.get(root)
    if me is None:
        raise RuntimeError(f"no /proc entry for pid {root}")
    python = (me[2] + me[3] + me[4] + me[5]) / _TICK
    rss = me[6]
    jvm = worker = 0.0
    todo = []
    for child in kids.get(root, []):
        st = stats[child]
        if st[0] == "java":
            jvm += (st[2] + st[3]) / _TICK
            worker += (st[4] + st[5]) / _TICK
            rss += st[6]
            todo.extend(kids.get(child, []))
        else:  # any other child of the driver counts as a worker
            todo.append(child)
    while todo:
        pid = todo.pop()
        st = stats.get(pid)
        if st is None:
            continue
        worker += (st[2] + st[3] + st[4] + st[5]) / _TICK
        rss += st[6]
        todo.extend(kids.get(pid, []))
    return TreeSample(python, jvm, worker, rss / 2**20)


def steal_s() -> float:
    """Host steal time so far, summed over CPUs, in seconds."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])
