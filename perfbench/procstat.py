"""CPU time of the benchmark's process tree, read from ``/proc``.

The driver, the Spark JVM it launches and the Python workers the JVM forks
are all descendants of this process, so their summed user + system time
(including reaped children) is the CPU the library spent on a call.

The JVM's JIT compiler threads are left out: they compile hot code during
the first minutes of a JVM and then go quiet, so in a short run they add
several CPU-seconds per pass that a long-lived executor does not pay, and
that vary from run to run with the compiler's queue.
"""

from __future__ import annotations

import os
from collections import defaultdict

#: thread names (``comm``, 15 characters) of HotSpot's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process or thread exited meanwhile
        return None


def _fields(stat: str) -> list[str]:
    """``/proc/.../stat`` fields after ``pid (comm)``: state ppid ...
    utime(11) stime(12) cutime(13) cstime(14)."""
    return stat[stat.rindex(")") + 2:].split()


class CpuMeter:
    """Cumulative CPU seconds of this process and its descendants, minus
    JIT compiler threads. :meth:`refresh` re-lists the process tree (a few
    milliseconds); :meth:`read` re-reads only the listed processes, so a
    process started after the last refresh is counted once it is reaped
    by a listed parent or after the next refresh."""

    def __init__(self):
        self._tick = os.sysconf("SC_CLK_TCK")
        self.refresh()

    def refresh(self) -> None:
        kids: dict[int, list[int]] = defaultdict(list)
        for name in os.listdir("/proc"):
            if name.isdigit():
                stat = _read(f"/proc/{name}/stat")
                if stat is not None:
                    kids[int(_fields(stat)[1])].append(int(name))
        pids, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            pids.append(pid)
            todo.extend(kids[pid])
        self._procs = [f"/proc/{p}/stat" for p in pids]
        self._jit = []
        for pid in pids:
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                comm = _read(f"/proc/{pid}/task/{tid}/comm") or ""
                if comm.strip() in JIT_THREADS:
                    self._jit.append(f"/proc/{pid}/task/{tid}/stat")

    def read(self) -> float:
        ticks = 0
        for path in self._procs:
            stat = _read(path)
            if stat is not None:
                ticks += sum(int(x) for x in _fields(stat)[11:15])
        for path in self._jit:
            stat = _read(path)
            if stat is not None:
                ticks -= sum(int(x) for x in _fields(stat)[11:13])
        return ticks / self._tick


def steal_seconds() -> float:
    """Host-wide CPU time stolen by the hypervisor so far (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def reset_peak_rss() -> None:
    """Restart this process's resident-set high-water mark (``VmHWM``)
    from its current RSS, so a later :func:`peak_rss_mb` covers only what
    ran after this call."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    """This process's resident-set high-water mark in MiB."""
    for line in _read("/proc/self/status").splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc/self/status")
