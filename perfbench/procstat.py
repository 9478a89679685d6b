"""CPU time and peak resident memory of a process tree, read from /proc.

The tree is the Spark JVM and everything under it (the Python daemon and
its forked workers). CPU counts user plus system time of live processes
and of the children they have reaped. Peak memory is the sum over the tree
of each process's VmHWM after it was reset with ``clear_refs`` at the start
of the measured interval: an upper bound on the peak of the sum.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list:
    """``root`` and all its descendants that are alive now."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """utime + stime + cutime + cstime summed over the tree."""
    ticks = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / _TICK


def reset_peaks(root: int) -> None:
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass        # the process ended meanwhile


def peak_rss_mb(root: int) -> float:
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0
