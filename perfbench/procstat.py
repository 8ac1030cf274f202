"""CPU and memory of a process tree, read from ``/proc`` (Linux only).

The benchmark's worker is the root of a tree: the Spark driver JVM is its
child and the Python UDF daemon and workers are the JVM's children, so
"the process" a user pays for is the whole tree.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; everything after the last ')' is fixed.
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User+system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree(root):
        st = stat(pid)
        if st is not None:
            # fields 14-17 (utime stime cutime cstime) → indices 11-14 here
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def peak_rss_mb(root: int) -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0
