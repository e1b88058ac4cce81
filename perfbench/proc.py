"""Reads of ``/proc`` for the benchmark: CPU time and peak memory of a
process tree (the workload's Python driver, the Spark JVM it launched,
and the pyspark worker processes the JVM forks).

CPU of a process that has exited and been reaped is kept in its
parent's ``cutime``/``cstime``, so summing ``utime + stime + cutime +
cstime`` over the live processes of the tree counts every process the
tree ever ran, once.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # own + reaped children, user + system


def _read_stat(path: str) -> Proc | None:
    """The ``stat`` file of a process or of one of its threads."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:  # the process ended while the table was read
        return None
    # comm is parenthesised and may itself hold spaces or parentheses
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): utime..cstime are fields 14..17
    ticks = sum(int(x) for x in fields[11:15])
    return Proc(int(raw.split(None, 1)[0]), int(fields[1]), comm, ticks / _TICK)


def tree(root: int) -> list[Proc]:
    """Every live process whose ancestry reaches ``root``, root first."""
    table = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read_stat(f"/proc/{name}/stat")
            if p is not None:
                table[p.pid] = p
    children: dict[int, list[Proc]] = {}
    for p in table.values():
        children.setdefault(p.ppid, []).append(p)
    out, todo = [], [table[root]] if root in table else []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p.pid, ()))
    return out


def tree_cpu(root: int) -> tuple[float, float]:
    """(CPU seconds of the whole tree, CPU seconds of its Python
    workers): every Python process but the driver itself, that is the
    pyspark daemon, the workers it forks, and Python data-source
    workers."""
    procs = tree(root)
    workers = sum(p.cpu_s for p in procs if p.pid != root and p.comm.startswith("python"))
    return sum(p.cpu_s for p in procs), workers


def jit_threads(pid: int) -> dict[int, float]:
    """CPU seconds of each JIT compiler thread (``C1 CompilerThread``,
    ``C2 CompilerThread``; the kernel keeps 15 characters of a thread
    name) of the JVM ``pid``, by thread id. The JVM starts and stops
    compiler threads as its compile queue grows and shrinks, so compare
    two readings with ``cpu_since``, not by their sums."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        t = _read_stat(f"/proc/{pid}/task/{tid}/stat")
        if t is not None and t.comm[:12] in ("C1 CompilerT", "C2 CompilerT"):
            out[t.pid] = t.cpu_s
    return out


def cpu_since(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU the threads of ``after`` used since ``before``. A thread
    started in between counts whole; one stopped in between has left
    ``after``, and its share since ``before`` is lost (the JVM stops a
    compiler thread only once it has been idle)."""
    return sum(cpu - before.get(tid, 0.0) for tid, cpu in after.items())


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of ``pid`` in KiB (``VmHWM``)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM for pid {pid}")


def reset_peak(pid: int) -> None:
    """Set ``pid``'s ``VmHWM`` back to its current resident set size,
    so a later read gives the peak from here on."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def jvm_pid(root: int) -> int:
    """The Spark JVM started under ``root``."""
    for p in tree(root):
        if p.comm == "java":
            return p.pid
    raise LookupError("no java process under the workload driver")


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot, from
    ``/proc/stat``: time the hypervisor gave to other guests shows as
    steal."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)
