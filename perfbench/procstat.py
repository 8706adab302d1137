"""Process-tree CPU and memory from ``/proc`` (Linux).

In local mode the engine is the benchmark's own process tree: the
driver Python process, the JVM it launches (executors are JVM
threads), and the pyspark daemon and worker processes that run Arrow
UDF and Python state stages. CPU is split into those three roles.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    cpu_ticks: int  # utime + stime + cutime + cstime


def parse_stat(text: str) -> Proc:
    """Parse one ``/proc/<pid>/stat`` line. ``comm`` sits in
    parentheses and may itself contain spaces or parentheses."""
    lpar, rpar = text.index("("), text.rindex(")")
    rest = text[rpar + 2 :].split()
    # rest[0] is state; utime..cstime are fields 14-17 (rest[11:15])
    ticks = sum(int(x) for x in rest[11:15])
    return Proc(int(text[:lpar]), int(rest[1]), text[lpar + 1 : rpar], ticks)


def read_procs(proc_root: str = "/proc") -> dict[int, Proc]:
    procs = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc_root, name, "stat")) as fh:
                procs[int(name)] = parse_stat(fh.read())
        except (OSError, ValueError):
            continue  # raced a process exit
    return procs


def descendants(procs: dict[int, Proc], root: int) -> list[Proc]:
    """``root`` and every live process below it."""
    kids: dict[int, list[int]] = {}
    for p in procs.values():
        kids.setdefault(p.ppid, []).append(p.pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(procs[pid])
            stack.extend(kids.get(pid, ()))
    return out


def cpu_split(procs: dict[int, Proc], root: int) -> dict[str, float]:
    """CPU seconds of the tree under ``root`` by role: ``driver`` (the
    root), ``jvm`` (java processes), ``python`` (every other Python
    process: pyspark daemon and workers; exited workers count through
    their parent's cutime/cstime), ``other`` (launcher shells)."""
    split = {"driver": 0.0, "jvm": 0.0, "python": 0.0, "other": 0.0}
    for p in descendants(procs, root):
        if p.pid == root:
            role = "driver"
        elif p.comm == "java":
            role = "jvm"
        elif p.comm.startswith("python"):
            role = "python"
        else:
            role = "other"
        split[role] += p.cpu_ticks / CLK_TCK
    return split


def vm_hwm_mb(pid: int) -> float:
    """Kernel-recorded peak resident set (VmHWM) of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pids(root: int | None = None) -> list[int]:
    return [p.pid for p in descendants(read_procs(), root or os.getpid()) if p.comm == "java"]
