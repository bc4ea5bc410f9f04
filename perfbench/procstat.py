"""CPU time and peak resident memory of this process and all its descendants,
read from /proc (Linux only).

The tree is the benchmark's Python process, the JVM that PySpark launches,
and the Python workers that the JVM forks. A worker that exits and is
reaped moves its CPU time into its parent's ``cutime``/``cstime``, so the
sum over live processes of own + reaped-children time never loses time.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # Fields after the parenthesised command name, which may hold spaces.
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """utime + stime + cutime + cstime summed over the tree, in seconds."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            total += int(st[11]) + int(st[12]) + int(st[13]) + int(st[14])
    return total / _TICK


def hwm_mb(pid: int) -> float:
    """Peak resident set size of one process (VmHWM), in MB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def tree_peak_rss_mb() -> tuple[float, float, float]:
    """(tree, python driver, JVM) peak resident memory in MB: the sum of the
    kernel's per-process peaks over the live tree, an upper bound on the
    tree's peak that no sampling interval can miss."""
    me = os.getpid()
    pids = tree_pids()
    py = hwm_mb(me)
    jvm = sum(hwm_mb(p) for p in pids if _comm(p) == "java")
    return sum(hwm_mb(p) for p in pids), py, jvm


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""
