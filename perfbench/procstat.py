"""Process-tree accounting read from ``/proc``.

The benchmark's Python process starts the JVM, which starts the Python
worker daemon, which forks the workers.  CPU time of the whole tree is the
statistic that host noise moves least; the workers' peak resident set is the
memory a user of the library pays per core.

Every function takes the ``/proc`` root as an argument so tests can point it
at a fake tree.
"""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def read_stat(pid: int, proc: str = "/proc") -> tuple[int, int, int] | None:
    """``(ppid, cpu_ticks, start_ticks)`` of one process, or None if it is gone.

    ``cpu_ticks`` is utime + stime + cutime + cstime: a child that exited and
    was reaped moves its time into its parent's c-fields, so the tree sum
    stays continuous while workers come and go."""
    try:
        with open(os.path.join(proc, str(pid), "stat")) as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces or parentheses
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, utime + stime + cutime + cstime, int(fields[19])


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        st = read_stat(int(name), proc)
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None, proc: str = "/proc") -> float:
    """CPU seconds used so far by ``root`` (default: this process) and all
    its descendants, including descendants that already exited."""
    root = os.getpid() if root is None else root
    ticks = 0
    for pid in tree_pids(root, proc):
        st = read_stat(pid, proc)
        if st is not None:
            ticks += st[1]
    return ticks / CLK_TCK


def _status_kb(pid: int, key: str, proc: str) -> int | None:
    try:
        with open(os.path.join(proc, str(pid), "status")) as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def is_python_worker(pid: int, proc: str = "/proc") -> bool:
    """True for PySpark's worker daemon and the workers it forks."""
    try:
        with open(os.path.join(proc, str(pid), "cmdline"), "rb") as f:
            argv = f.read().split(b"\0")
    except OSError:
        return False
    return any(a.startswith(b"pyspark.daemon") or a.startswith(b"pyspark.worker") for a in argv)


def max_worker_hwm_mb(root: int | None = None, proc: str = "/proc") -> float:
    """Largest peak resident set (``VmHWM``) of any live Python worker under
    ``root``, in MB; 0.0 when no worker is alive."""
    root = os.getpid() if root is None else root
    best = 0
    for pid in tree_pids(root, proc):
        if pid != root and is_python_worker(pid, proc):
            best = max(best, _status_kb(pid, "VmHWM", proc) or 0)
    return best / 1024.0


def boottime() -> float:
    """Seconds since boot on the clock ``/proc/<pid>/stat`` start times use."""
    return time.clock_gettime(time.CLOCK_BOOTTIME)


def process_start(pid: int | None = None, proc: str = "/proc") -> float:
    """Start of ``pid`` (default: this process) on the ``boottime`` clock."""
    st = read_stat(os.getpid() if pid is None else pid, proc)
    if st is None:
        raise ProcessLookupError(pid)
    return st[2] / CLK_TCK
