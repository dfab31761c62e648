"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the JVM the benchmark launches and the Python workers the
JVM forks. CPU time includes ``cutime``/``cstime``
so workers that exit and are reaped inside the tree still count.
Memory is the summed proportional set size (PSS): forked Python workers
share pages copy-on-write, and summing plain RSS would count those
pages once per worker.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_S = 0.2  # PeakMemory's sampling period


def _stat(pid: int):
    with open(f"/proc/{pid}/stat", "rb") as f:
        raw = f.read()
    # comm may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(b")") + 2:].split()


def _tree(root: int) -> dict:
    """pid -> fields of every live process descending from ``root``."""
    stats, kids = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            st = _stat(int(name))
        except (OSError, ValueError):
            continue  # exited while listing
        stats[int(name)] = st
        kids.setdefault(int(st[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """utime + stime + cutime + cstime summed over the tree."""
    return sum(sum(int(v) for v in st[11:15]) for st in _tree(root).values()) / _TICK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def pss_bytes(root: int) -> int:
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # exited since the listing
    return total


class PeakMemory:
    """Samples the tree's summed PSS every ``SAMPLE_S`` seconds inside
    its ``with`` block; ``peak`` holds the largest sample."""

    def __init__(self, root: int):
        self.root = root
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_bytes(self.root))
            self._stop.wait(SAMPLE_S)

    def __enter__(self) -> "PeakMemory":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, pss_bytes(self.root))
