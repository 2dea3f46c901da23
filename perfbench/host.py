"""Host health and memory, read from ``/proc`` (psutil is not
installed).

- ``CpuSteal``: share of CPU time stolen by the hypervisor between two
  readings of ``/proc/stat``.  With it a run whose spread breaks the
  bounds can be explained instead of silently discarded.
- ``RssSampler``: peak resident memory of this process and all of its
  descendants (the JVM and its Python workers), sampled in a thread.
  It reads each process's resident set from ``statm``, a counter the
  kernel keeps, and not ``smaps``, whose page-table walk locks the
  JVM's memory map: in two paired runs, sampling ``smaps`` raised the
  measured CPU time by about 4% beyond its own CPU time.  Pages a forked
  Python worker still shares with the worker daemon count once per
  process.
- ``measured_cpu_s``: CPU seconds of the process tree, less what the
  sampler thread itself used, so memory sampling is not charged to the
  timed sections.
- ``canary_s``: the repository bench's fixed pure-Python busy loop,
  imported from ``bench.py`` unmodified.
"""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class CpuSteal:
    """Steal share of all CPU time since construction."""

    def __init__(self):
        self.t0 = _cpu_times()

    def share(self) -> float:
        d = [b - a for a, b in zip(self.t0, _cpu_times())]
        total = sum(d[:8])  # guest time is already counted in user
        return d[7] / total if total > 0 and len(d) > 7 else 0.0


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process."""
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                parents[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    return parents


def _tree(root: int, parents=None) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in (parents or _parents()).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    descendants, including reaped children.  Time stolen by the
    hypervisor is not charged to a process, so a difference of two
    readings is steadier than wall time on a shared host."""
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended between listing and reading
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _tree_rss_bytes(root: int) -> int:
    """Summed resident memory of the tree.  The JVM starts helper
    processes (``chmod``, ``jspawnhelper``) with vfork: until the child
    execs, it runs the JVM's binary in the JVM's own memory and reports
    the JVM's resident set, so such a child is skipped."""
    parents, total = _parents(), 0
    for pid in _tree(root, parents):
        exe = _exe(pid)
        if os.path.basename(exe) == "java" and _exe(parents.get(pid, 0)) == exe:
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * PAGE
        except OSError:
            continue  # ended between listing and reading
    return total


#: CPU seconds used so far by the running ``RssSampler`` thread
_sampler_cpu_s = 0.0


def measured_cpu_s() -> float:
    """``tree_cpu_s`` less the CPU time of the memory sampler."""
    return tree_cpu_s() - _sampler_cpu_s


class RssSampler:
    """Peak of the summed resident memory of this process tree, sampled
    every ``INTERVAL`` seconds until ``stop``."""

    INTERVAL = 0.5  # one sample takes about 2 ms of CPU

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def _run(self) -> None:
        global _sampler_cpu_s
        pid, base = os.getpid(), time.thread_time()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            _sampler_cpu_s = time.thread_time() - base
            if self._stop.wait(self.INTERVAL):
                return

    def stop(self) -> float:
        """Stop sampling; peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / 2**20


def canary_s() -> float:
    """Median of three timings of ``bench.py``'s busy loop, taken before
    the JVM starts."""
    from bench import _canary

    return _canary()
