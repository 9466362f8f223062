"""Host-side measurements: process-tree peak RSS and a contention canary."""

from __future__ import annotations

import os
import subprocess
import sys
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def usable_cores() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def _processes() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, RSS bytes) for every process in /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm", "rb") as f:
                pages = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):  # it ended while we looked
            continue
        # the command name may hold spaces; ppid is the 2nd field after it
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        out[int(name)] = (ppid, pages * _PAGE)
    return out


def _tree(root: int, procs: dict[int, tuple[int, int]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    """Live processes started, directly or not, by `root`."""
    return _tree(root, _processes())[1:]


def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of `root` and all its descendants (this Python process,
    the JVM it launched, and the JVM's Python workers)."""
    procs = _processes()
    return sum(procs[p][1] for p in _tree(root, procs) if p in procs)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) spent so far by `root` and its live
    descendants, including the children each of them has reaped."""
    total = 0
    for pid in _tree(root, _processes()):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


def steal_s() -> float:
    """Seconds, summed over cores, that the hypervisor gave this machine's
    CPUs to others since boot (the `steal` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class PeakRss:
    """Samples the process tree's RSS every `interval` s on a daemon
    thread; `take()` returns the largest sum seen since `start()` or the
    previous `take()`, in MB."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = _tree_rss_bytes(me)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def take(self) -> float:
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak / 2**20


_BURN = """
import time
t0 = time.perf_counter()
acc = 0
for i in range(1_000_000):
    acc += i * i
print(time.perf_counter() - t0)
"""


def canary(procs: int | None = None) -> float:
    """Median seconds of a fixed pure-Python loop run in `procs` (default:
    one per core) interpreter processes at once. About 0.12-0.2 s on a
    4-core host; it rises when other tenants hold the cores."""
    procs = procs or usable_cores()
    for _ in range(2):  # the first round wakes idle cores, and is dropped
        ps = [subprocess.Popen([sys.executable, "-c", _BURN], stdout=subprocess.PIPE,
                               text=True) for _ in range(procs)]
        times = sorted(float(p.communicate()[0]) for p in ps)
    return times[len(times) // 2]
