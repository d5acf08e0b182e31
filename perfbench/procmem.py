"""Resident memory and CPU time of this process tree, read from /proc.

The tree is the driver's Python process, the JVM it launches and the
Python workers the JVM forks.  A background thread sums VmRSS over the
tree every ``interval`` seconds and keeps the peaks of the current
window (one measured pass); the CPU seconds the tree spent in a window
are read at its two ends.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _processes() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, command name, CPU ticks) of every process.
    The ticks include those of reaped children, so a helper that ends
    inside a window still counts, through its parent."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        close = stat.rindex(b")")
        comm = stat[stat.index(b"(") + 1 : close].decode(errors="replace")
        fields = stat[close + 2 :].split()
        # utime, stime, cutime, cstime: fields 14-17 of proc(5)
        ticks = sum(int(x) for x in fields[11:15])
        procs[int(name)] = (int(fields[1]), comm, ticks)
    return procs


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def descendants(root: int, procs=None) -> list[int]:
    procs = _processes() if procs is None else procs
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _comm, _ticks) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_usage(root: int) -> tuple[dict[str, int], float]:
    """Bytes resident in the driver, the JVM and the Python workers,
    and the CPU seconds they have used.  Other descendants are
    short-lived helpers the JVM spawns (shells, ``chmod``); between
    fork and exec they report the JVM's own pages, so counting them
    would count the JVM twice (their CPU reaches the JVM when reaped)."""
    procs = _processes()
    rss = {"driver": _rss(root), "jvm": 0, "workers": 0}
    ticks = procs[root][2] if root in procs else 0
    for pid in descendants(root, procs):
        comm = procs[pid][1]
        if comm == "java":
            rss["jvm"] += _rss(pid)
        elif comm.startswith("python"):
            rss["workers"] += _rss(pid)
        else:
            continue
        ticks += procs[pid][2]
    rss["total"] = sum(rss.values())
    return rss, ticks / _TICK


class TreeMeter:
    """Per window: peak resident bytes by process kind, and CPU
    seconds.  ``new_window`` closes one window and opens the next."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self._peak = dict.fromkeys(("total", "driver", "jvm", "workers"), 0)
        self._cpu = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> float:
        rss, cpu = tree_usage(os.getpid())
        with self._lock:
            for k, v in rss.items():
                self._peak[k] = max(self._peak[k], v)
        return cpu

    def new_window(self) -> tuple[dict, float]:
        """(peak bytes by kind, CPU seconds) of the window just closed."""
        cpu = self._sample()
        with self._lock:
            peak, self._peak = self._peak, dict.fromkeys(self._peak, 0)
        used, self._cpu = cpu - self._cpu, cpu
        return peak, used

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
