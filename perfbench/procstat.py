"""CPU and memory of this benchmark's process tree, read from ``/proc``.

The driver JVM and the Python workers are children (or grandchildren)
of this process, so summing over the live tree gives the CPU the
program spent. Workers are reused across Spark tasks (Python worker
reuse is Spark's default), so a tree snapshot before and after a timed
pass brackets the pass's CPU; the CPU of children that exited inside the
pass is caught through the reaped-children counters of the live
processes (``cutime``/``cstime``).
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def cpu_seconds() -> float:
    """user+sys seconds of the live tree plus every reaped descendant."""
    total = 0
    for pid in tree():
        st = _stat(pid)
        if st:
            # st[0] is field 3 (state): utime, stime, cutime, cstime are
            # fields 14-17
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def peak_rss_mb() -> float:
    """Sum over the tree of each process's high-water RSS (VmHWM)."""
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
