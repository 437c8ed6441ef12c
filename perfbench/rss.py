"""Peak resident memory of a process tree, sampled by one thread.

The tree is this process plus every descendant: the Spark driver JVM the
PySpark gateway launched and the Python workers it forks.  Each sample
walks ``/proc`` once for parent links and sums ``statm`` resident pages.

A process younger than ``MIN_AGE_S`` is left out.  The JVM starts child
processes (Python daemons, Hadoop's shell helpers) through ``vfork``, and
until the child execs, its ``statm`` reports the whole JVM's resident set;
a sample that caught that moment would count the JVM twice.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")
MIN_AGE_S = 0.5


def _parents(min_age_s=0.0):
    """``{pid: parent pid}`` of every process at least ``min_age_s`` old."""
    if min_age_s:
        with open("/proc/uptime") as fh:
            born_before = float(fh.read().split()[0]) - min_age_s
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name) as fh:
                stat = fh.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name is in parentheses and may hold spaces
        fields = stat.rsplit(")", 1)[1].split()
        if min_age_s and int(fields[19]) / _TICK > born_before:
            continue
        out[int(name)] = int(fields[1])
    return out


def descendants(root, min_age_s=0.0):
    """Pids of every live descendant of ``root`` at least ``min_age_s``
    old (a younger process hides its own descendants too)."""
    children = {}
    for pid, ppid in _parents(min_age_s).items():
        children.setdefault(ppid, []).append(pid)
    out = []
    stack = list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root):
    total = 0
    for pid in [root] + descendants(root, MIN_AGE_S):
        try:
            with open("/proc/%d/statm" % pid) as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:  # the process ended since the walk
            continue
    return total


def _cpu_clock(pid):
    """The clock id of a process's CPU time (``clock_getcpuclockid``)."""
    return ((~pid) << 3) | 2  # CPUCLOCK_SCHED, process-wide


def tree_cpu_s(root):
    """CPU seconds the tree has used so far: each live process's own time
    (nanosecond clock) plus the children it has reaped (clock ticks).
    The kernel leaves the time the hypervisor stole out of both."""
    total = 0.0
    for pid in [root] + descendants(root):
        try:
            with open("/proc/%d/stat" % pid) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            total += time.clock_gettime(_cpu_clock(pid))
        except OSError:  # the process ended since the walk
            continue
        total += (int(fields[13]) + int(fields[14])) / _TICK
    return total


class PeakRss:
    """``with PeakRss() as rss: ...`` then ``rss.peak_mb``."""

    def __init__(self, interval_s=0.1, root=None):
        self.interval_s = interval_s
        self.root = os.getpid() if root is None else root
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return False

    @property
    def peak_mb(self):
        return self.peak / 1e6
