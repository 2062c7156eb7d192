"""Process-tree CPU and memory, and host weather, read from /proc.

The measured tree is every descendant of the benchmark process: the JVM
that PySpark launches, the Python worker daemon and its workers.  The
benchmark's own process is left out, so its samplers do not count.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> dict[int, list[str]]:
    """pid -> stat fields (from the state field on) of every live descendant."""
    stats, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(name)
            if fields is not None:
                stats[int(name)] = fields
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def _cpu_s(fields: list[str]) -> float:
    # utime, stime, cutime, cstime: a reaped worker's time moves into its
    # parent's c-fields, so the sum over the live tree stays continuous
    return sum(int(v) for v in fields[11:15]) / _CLK


def tree_cpu_s(root: int, name_filter: str | None = None) -> float:
    tree = descendants(root)
    total = 0.0
    for pid, fields in tree.items():
        if name_filter is not None and name_filter not in _comm(pid):
            continue
        total += _cpu_s(fields)
    return total


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def tree_rss_mb(root: int) -> float:
    return sum(int(f[21]) for f in descendants(root).values()) * _PAGE / 2**20


class RssSampler:
    """Samples the tree's summed RSS from a thread; ``peak`` holds the
    largest sum seen since the last ``reset``."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self._root, self._interval = root, interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak = 0.0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        self.peak = tree_rss_mb(self._root)

    def _loop(self) -> None:
        # walking all of /proc costs more than reading a few stat files, so
        # the set of processes is refreshed once a second
        pids: list = []
        tick = 0
        while not self._stop.wait(self._interval):
            if tick % 5 == 0:
                pids = [str(p) for p in descendants(self._root)]
            tick += 1
            pages = sum(int(f[21]) for f in map(_stat, pids) if f is not None)
            self.peak = max(self.peak, pages * _PAGE / 2**20)


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # guest time is already inside user time
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / total if total > 0 else 0.0


def calibration_s() -> float:
    """A fixed single-thread interpreter loop: its time tracks how much CPU
    the host gives this container right now."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return time.perf_counter() - t0
