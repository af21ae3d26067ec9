"""Process-tree CPU and memory from ``/proc`` (Linux only).

The benchmark process is the root of the tree: the Spark driver JVM is
its child and the PySpark worker daemon and its forked workers are the
JVM's children, so the tree covers every CPU-second an op costs.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
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
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, including reaped children
    (cutime/cstime), so a worker that exited mid-op still counts."""
    total = 0
    for pid in descendants(root or os.getpid()):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_hwm_kb(root: int | None = None) -> dict[int, tuple[str, int]]:
    """Peak resident set (VmHWM, kB) and name of each live process in the tree."""
    out = {}
    for pid in descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[pid] = (fields["Name"].strip(), int(fields["VmHWM"].split()[0]))
    return out

