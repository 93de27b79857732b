"""Process-tree CPU, memory and host steal, read from ``/proc``.

The engine runs as three kinds of process: this Python driver, the JVM
it launches, and the Python workers the JVM forks. Summing over the tree
rooted at the driver counts all three.
"""

from __future__ import annotations

import contextlib
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's compiler thread names, as /proc truncates them.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, the fields after it) of one ``stat`` file, or None
    if the process or thread exited before it could be read."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    # The command name sits in parentheses and may contain spaces.
    return raw[raw.index("(") + 1 : raw.rindex(")")], raw[raw.rindex(")") + 2 :].split()


def _cpu_ticks(fields: list[str], reaped: bool = True) -> int:
    # utime, stime, cutime, cstime are fields 14-17 of stat(5). A thread's
    # cutime and cstime are its process's totals, so per thread, only
    # utime and stime are its own.
    return sum(int(v) for v in fields[11 : 15 if reaped else 13])


def tree_pids() -> list[int]:
    """This process and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (stat := _read_stat(f"/proc/{entry}/stat")) is not None:
            children.setdefault(int(stat[1][1]), []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _alive(pid: int) -> bool:
    stat = _read_stat(f"/proc/{pid}/stat")
    return stat is not None and stat[1][0] != "Z"


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; kill those still alive after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while alive := [p for p in pids if _alive(p)]:
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + timeout_s
        time.sleep(0.05)


def tree_cpu_s() -> tuple[float, float]:
    """(CPU seconds of the tree, the part of them its JIT compilers used).

    Counts user + system time, including reaped children: a worker that
    exits is reaped by its parent, whose ``cutime`` and ``cstime`` then
    carry its time, so a difference of two readings counts processes
    that lived only between them. The JVM's compiler threads must not
    exit in between (``-XX:-UseDynamicNumberOfCompilerThreads``), or
    their time would leave the JIT share."""
    total = jit = 0
    for pid in tree_pids():
        if (stat := _read_stat(f"/proc/{pid}/stat")) is None:
            continue
        total += _cpu_ticks(stat[1])
        with contextlib.suppress(OSError):
            for tid in os.listdir(f"/proc/{pid}/task"):
                task = _read_stat(f"/proc/{pid}/task/{tid}/stat")
                if task is not None and task[0].startswith(JIT_THREADS):
                    jit += _cpu_ticks(task[1], reaped=False)
    return total / _TICK, jit / _TICK


def tree_rss_mb() -> float:
    """Resident memory of the tree now, in MiB."""
    pages = 0
    for pid in tree_pids():
        with contextlib.suppress(OSError):
            with open(f"/proc/{pid}/statm") as fh:
                pages += int(fh.read().split()[1])
    return pages * os.sysconf("SC_PAGE_SIZE") / 2**20


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host since boot."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    # guest and guest_nice are already counted in user and nice.
    return vals[7], sum(vals[:8])
