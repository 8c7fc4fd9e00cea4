"""CPU-seconds and resident memory of a process tree, read from /proc.

The benchmark's process tree is the driver Python process, the Spark JVM it
launched, and the Python workers the JVM forks.  ``getrusage(RUSAGE_CHILDREN)``
only counts children that have exited and been reaped, so it misses the
live JVM and the reused workers; this module sums ``/proc/<pid>/stat``
over every live descendant instead.

CPU is utime+stime+cutime+cstime per live process: a child that exits and is
reaped by a process in the tree moves from its own counters into its
parent's c-counters, so the sum is continuous across worker turnover.
Resident memory is the summed PSS (proportional set size: each shared page
split among the processes mapping it), sampled by :class:`PeakMemory` while a
pass runs.  Plain RSS would count a forked child's copy-on-write pages
twice — a JVM fork for a shell command briefly doubles the sum.  It is never
the kernel's per-process high-water mark either, which would carry a reused
worker's peak from one pass into the next.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: str) -> tuple[int, int]:
    """(ppid, cpu ticks incl. reaped children) of one process."""
    with open(f"/proc/{pid}/stat") as f:
        data = f.read()
    # the command name may hold spaces or parentheses: fields start after
    # the LAST ')'
    rest = data[data.rindex(")") + 2:].split()
    ppid = int(rest[1])
    ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return ppid, ticks


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited since it was listed
    return 0


def tree_pids(root: int) -> dict[int, tuple[int, int]]:
    """Every live process in ``root``'s tree -> (ppid, cpu ticks)."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                procs[int(name)] = _read_stat(name)
            except (OSError, ValueError, IndexError):
                pass  # exited between listdir and open
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            tree[pid] = procs[pid]
            stack.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int) -> float:
    """CPU-seconds the tree has used so far."""
    return sum(t for _, t in tree_pids(root).values()) / _CLK


def tree_pss(root: int) -> int:
    """Resident bytes of the tree now, shared pages counted once."""
    return sum(_pss_bytes(pid) for pid in tree_pids(root))


def host_cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole host since boot: the share a
    hypervisor gave to other guests explains wall-time noise between runs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


class PeakMemory:
    """Background sampler of the tree's resident bytes; ``peak`` in bytes.

    Start it around one timed pass; a fresh sampler per pass keeps one
    pass's peak out of the next one's number.  One sample walks the page
    tables of a multi-GB JVM (tens of ms of CPU), so samples are a second
    apart, and ``cpu_s`` is the sampler thread's own CPU time, for the
    caller to take out of the tree's.
    """

    def __init__(self, root: int, interval_s: float = 1.0):
        self.root, self.interval_s = root, interval_s
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        t0 = time.thread_time()
        while True:
            self.peak = max(self.peak, tree_pss(self.root))
            if self._stop.wait(self.interval_s):
                self.cpu_s = time.thread_time() - t0
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
