"""CPU time and resident memory of this process and all its descendants.

The benchmark runs one Python driver; PySpark starts a JVM under it and
the JVM forks Python workers. All three do work for every op, so machine
cost is read from ``/proc`` for the whole tree, not for the driver alone.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (a finished Python worker's time lands in its parent's ``cutime``)."""
    total = 0
    for pid in tree_pids() if pids is None else pids:
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_by_process() -> dict[str, float]:
    """Peak resident set (``VmHWM``, MB) of each live process of the tree."""
    out = {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{pid}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out
