"""Process-tree CPU time and peak memory, read from /proc between passes.

The tree is this process plus every descendant: the Spark driver JVM and
the Python daemon and workers it forks. Nothing samples in the
background; each call is one scan of /proc, made off the clock.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime + stime + cutime + cstime in seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def tree() -> dict[int, float]:
    """pid -> CPU seconds (own plus reaped children) for the process tree."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (s := _stat(int(name))) is not None:
            stats[int(name)] = s
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """Core-seconds used so far by the tree. A worker that exits moves its
    time into its parent's reaped-children count, so the sum stays whole."""
    return sum(tree().values())


def peak_rss_mb() -> float:
    """Sum of VmHWM (each process's peak resident set) over the live tree."""
    total_kb = 0
    for pid in tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"  # a zombie has already exited


def wait_gone(pids, timeout: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL what is left at the deadline."""
    left = set(pids)
    deadline = time.monotonic() + timeout
    killed = False
    while left := {p for p in left if _alive(p)}:
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {sorted(left)} survived SIGKILL")
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 10
        time.sleep(0.05)
