"""Process-level probes: container CPU-seconds and subtree peak RSS."""

from __future__ import annotations

import os
import threading

_PAGE_KIB = os.sysconf("SC_PAGE_SIZE") // 1024
_CPUACCT_USAGE = "/sys/fs/cgroup/cpuacct/cpuacct.usage"  # cgroup v1, ns
_CPU_STAT = "/sys/fs/cgroup/cpu.stat"  # cgroup v2, usage_usec line
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, rss pages, utime+stime+cutime+cstime ticks)."""
    procs: dict[int, tuple[int, int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                data = f.read()
            fields = data[data.rindex(")") + 2 :].split()
            ticks = sum(int(x) for x in fields[11:15])
            procs[int(entry)] = (int(fields[1]), int(fields[21]), ticks)
        except (OSError, ValueError, IndexError):
            continue  # process vanished mid-walk
    return procs


def _subtree(procs: dict[int, tuple[int, int, int]], root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root_pid]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def descendants(root_pid: int) -> list[int]:
    """Every live process below ``root_pid``."""
    procs = _proc_table()
    return [p for p in _subtree(procs, root_pid) if p != root_pid]


def subtree_rss_kib(root_pid: int) -> int:
    """Sum of RSS over ``root_pid`` and every descendant, from /proc (the
    method of ``examples/memory_profiling._subtree_rss_kib``)."""
    procs = _proc_table()
    return sum(procs[p][1] for p in _subtree(procs, root_pid)) * _PAGE_KIB


def cpu_seconds() -> float:
    """Container CPU-seconds so far: cgroup v1 ``cpuacct.usage``, else
    cgroup v2 ``cpu.stat``, else this process subtree's /proc ticks (which
    include reaped children through cutime/cstime)."""
    try:
        with open(_CPUACCT_USAGE) as f:
            return int(f.read()) / 1e9
    except OSError:
        pass
    try:
        with open(_CPU_STAT) as f:
            for line in f:
                if line.startswith("usage_usec"):
                    return int(line.split()[1]) / 1e6
    except OSError:
        pass
    procs = _proc_table()
    return sum(procs[p][2] for p in _subtree(procs, os.getpid())) / _CLK_TCK


class PeakRss:
    """One sampling thread recording the peak subtree RSS while entered.

    A level counts once two samples in a row reach it.  One run of ~40
    read 10.3 GB in a single sample against 5.6 GB in every other run:
    most likely a process the JVM was spawning, which shares (and so shows)
    the JVM's whole RSS until it execs."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_kib = 0
        self._last_kib = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        kib = subtree_rss_kib(self.root_pid)
        self.peak_kib = max(self.peak_kib, min(kib, self._last_kib))
        self._last_kib = kib

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()  # so a level held until the very end still counts
