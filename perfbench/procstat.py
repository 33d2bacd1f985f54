"""CPU time of a process tree, read from ``/proc``.

Used on the Spark driver JVM, whose descendants are the Python worker daemon
and its forked workers. CPU time counts each live process's own time plus
the time of children it has already reaped, so a worker that exits during a
measured interval is still counted (its parent, the daemon, reaps it).
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            raw = fh.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` is still running (an exited, unreaped zombie is not)."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def cpu_seconds(root: int) -> float:
    """user + system seconds of the tree, reaped children included."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/<pid>/stat: utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK
