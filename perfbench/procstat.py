"""CPU and resident-memory accounting for the benchmark's process tree.

Reads ``/proc/<pid>/stat`` and ``/proc/<pid>/smaps_rollup`` directly (no
psutil). The tree is the benchmark's own Python driver, the Spark JVM
it launched, the PySpark daemon and every Python worker below it.

CPU of a process that already exited is not lost: once its parent
reaps it, the kernel adds it to the parent's ``cutime``/``cstime``, so
the tree total sums ``utime + stime + cutime + cstime`` over the live
processes.

Memory is the summed proportional set size (Pss): Python workers are
forked from one daemon and share most of their pages, which RSS would
count once per worker — so the figure would jump by a worker's whole
import footprint whenever Spark happens to start one more.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields after "comm)": state=0 ... utime=11 stime=12 cutime=13 cstime=14
    return int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s(root: int) -> float:
    return sum(_cpu_ticks(p) for p in tree_pids(root)) / _TICK


def tree_pss_mb(root: int) -> float:
    return sum(_pss_kb(p) for p in tree_pids(root)) / 1024.0


class TreeSampler:
    """Samples the tree's summed Pss on a background thread while the
    ``with`` block runs; ``cpu_s`` and ``peak_rss_mb`` are set on exit."""

    def __init__(self, root: int | None = None, interval_s: float = 0.5):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.cpu_s = 0.0
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_rss_mb = max(self.peak_rss_mb, tree_pss_mb(self.root))

    def __enter__(self) -> "TreeSampler":
        self._cpu0 = tree_cpu_s(self.root)
        self.peak_rss_mb = tree_pss_mb(self.root)
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_rss_mb = max(self.peak_rss_mb, tree_pss_mb(self.root))
        self.cpu_s = tree_cpu_s(self.root) - self._cpu0
