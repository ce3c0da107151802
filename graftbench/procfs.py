"""Process-tree CPU and memory, and host CPU counters, read from /proc.

A Spark run is three kinds of process: the driver's Python, the JVM it
launches, and the Python workers the JVM forks.  CPU time is summed
over the live tree, each process counted with its reaped children, so a
worker that exited between two samples is still counted.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: split after its closing parenthesis
    head, _, tail = raw.rpartition(")")
    return [head.partition("(")[2]] + tail.split()


def tree(root: int) -> dict[int, list[str]]:
    """Stat fields of ``root`` and every live descendant, by pid.  Field
    0 is comm; field k >= 1 is stat field k + 2 of proc(5)."""
    stats = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
                children.setdefault(int(st[2]), []).append(int(name))
    out = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_by_role(root: int) -> dict[str, float]:
    """CPU seconds (user + system, own plus reaped children) of the tree
    under ``root``, split into the driver (``root`` itself), the JVM and
    the Python workers the JVM forked."""
    out = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid, st in tree(root).items():
        secs = sum(int(x) for x in st[12:16]) / _TICK
        if pid == root:
            out["driver"] += secs
        elif st[0] == "java":
            out["jvm"] += secs
        else:
            out["pyworker"] += secs
    return out


def tree_pss_mb(root: int) -> float:
    """Resident memory of the tree with each shared page split among the
    processes sharing it (PSS).  Summing plain RSS would count the pages
    the Python workers share with the daemon they fork from once per
    worker."""
    kb = 0
    procs = tree(root)
    for pid, st in procs.items():
        if st[0] == "java" and procs.get(int(st[2]), [""])[0] == "java":
            # a child the JVM is spawning: until it execs it shares the
            # JVM's memory (vfork), and would count it twice
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (OSError, StopIteration):
            pass  # the process exited between the listing and the read
    return kb / 1024


def host_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and busy shares of all host CPU time between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    idle = d[3] + d[4]
    return {"steal_frac": d[7] / total, "busy_frac": (total - idle - d[7]) / total}
