"""A process and everything below it, read from /proc.

Spark's Python daemon moves itself and its workers into a process group
of their own, so a tree is followed by parent links, not by group.
"""

from __future__ import annotations

import os

_TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def _stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def tree(root: int) -> list[int]:
    """``root`` and its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(name)
            if fields and fields[0] != "Z":
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def alive(pid: int) -> bool:
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z"


def pss_mb(root: int) -> float:
    """Proportional set size of the tree: Spark forks its Python workers
    from one daemon, and PSS splits their shared pages among them instead
    of counting each page once per process as RSS would."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total / 1e3


def cpu_s(root: int) -> float:
    """CPU seconds (user + system) the tree has used so far, children
    that already exited and were reaped included. The kernel keeps the
    time a hypervisor gives the CPU to another guest (steal) out of
    these counts, so they do not grow when the host is oversubscribed,
    as wall time does."""
    ticks = 0
    for pid in tree(root):
        fields = _stat(pid)
        if fields:
            # utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks * _TICK_S
