"""Process-tree CPU time and peak memory, read from /proc.

The tree is this driver process plus every descendant: the Spark JVM and
the Python workers it forks.  CPU time of a child that exited and was
reaped moves into its parent's cutime/cstime, so sums over the live tree
stay monotonic.
"""

from __future__ import annotations

import os
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended between listing and reading
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    return comm, raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children[int(st[1][1])].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> dict[str, float]:
    """{'jvm': s, 'python': s} of user+sys CPU, children included."""
    total = {"jvm": 0.0, "python": 0.0}
    for pid in tree_pids():
        st = _stat(pid)
        if st is None:
            continue
        comm, f = st
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        total["jvm" if comm == "java" else "python"] += ticks / _TICK
    return total


def peak_rss_mb() -> float:
    """Summed VmHWM (peak resident set) over the process tree, in MB."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
