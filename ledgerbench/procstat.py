"""Process-tree CPU and memory from /proc, plus the host's run context.

The tree is this process and every descendant: the Spark driver JVM, the
Python worker daemon and its forked workers.  CPU is utime+stime; memory
is summed PSS, so pages shared by forked workers count once.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int):
    with open(f"/proc/{pid}/stat", encoding="ascii") as f:
        raw = f.read()
    # comm may hold spaces or parens; fields restart after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_ticks(pid: int) -> int | None:
    try:
        f = _stat_fields(pid)
        return int(f[11]) + int(f[12])  # utime + stime
    except (OSError, ValueError, IndexError):
        return None


def pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


class TreeMonitor:
    """Samples the process tree on a background thread between
    ``start()`` and ``stop()``: the peak summed PSS, and the CPU each
    process used since ``start()`` (a process that exits in between keeps
    its last sampled value).  The sampling thread's own CPU is not
    counted: it is the benchmark's work, not the program's."""

    #: reading the JVM's smaps_rollup takes ~20 ms and the JVM's mmap
    #: lock, so the tree is not sampled more often than this
    period_s = 0.5

    def __init__(self):
        self.root = os.getpid()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._base: dict[int, int] = {}
        self._last: dict[int, int] = {}
        self._own_cpu_s = 0.0
        self.peak_pss = 0

    def _sample(self) -> None:
        pids = tree_pids(self.root)
        total = 0
        for pid in pids:
            t = cpu_ticks(pid)
            if t is not None:
                self._last[pid] = t
            total += pss_bytes(pid)
        self.peak_pss = max(self.peak_pss, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            t = time.thread_time()
            self._sample()
            self._own_cpu_s += time.thread_time() - t

    def start(self) -> None:
        self._base = {p: t for p in tree_pids(self.root)
                      if (t := cpu_ticks(p)) is not None}
        self._last = dict(self._base)
        self._own_cpu_s = 0.0
        self.peak_pss = 0
        self._sample()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return CPU seconds the tree used since start."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        self._sample()
        ticks = sum(t - self._base.get(p, 0) for p, t in self._last.items())
        return ticks / _TICK - self._own_cpu_s


def steal_jiffies() -> int:
    with open("/proc/stat", encoding="ascii") as f:
        cpu = f.readline().split()
    return int(cpu[8])


def load_1m() -> float:
    return os.getloadavg()[0]
