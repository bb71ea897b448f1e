"""Process-tree CPU / memory accounting and host steal, read from /proc.

The benchmark process is the root of its tree: the Spark JVM is its
child and the Python workers are the JVM's descendants. The CPU of a
descendant that exits moves into its parent's ``cutime``/``cstime``
once the parent reaps it, so summing ``utime + stime + cutime +
cstime`` over the live tree counts every CPU-second spent in it.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ")"
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pid_cpu_rss(pid: int) -> tuple[float, int]:
    """(CPU seconds incl. reaped children, resident bytes) of one pid."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return 0.0, 0
    fields = stat[stat.rindex(b")") + 2 :].split()
    # fields[0] is field 3 (state): utime..cstime are fields 14..17
    ticks = sum(int(v) for v in fields[11:15])
    rss = int(fields[21]) * _PAGE
    return ticks / _TICK, rss


def tree_cpu_rss(root: int) -> tuple[float, int]:
    cpu = rss = 0
    for pid in tree_pids(root):
        c, r = _pid_cpu_rss(pid)
        cpu += c
        rss += r
    return cpu, rss


def host_steal_s() -> float:
    """Host-wide steal seconds since boot, summed over CPUs."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) / _TICK if len(parts) > 8 else 0.0


class TreeSampler:
    """Background sampler of the tree's resident memory.

    ``peak_rss`` is the largest summed RSS seen since ``start``. CPU
    needs no sampler: read it on demand with ``tree_cpu_rss`` (the
    counters are cumulative)."""

    def __init__(self, root: int | None = None, period_s: float = 0.1):
        self.root = root or os.getpid()
        self.period_s = period_s
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, tree_cpu_rss(self.root)[1])
            self._stop.wait(self.period_s)

    def start(self) -> "TreeSampler":
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None

