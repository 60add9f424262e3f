"""Process-tree accounting read from ``/proc``.

The benchmark's CPU figure is the CPU of its own process tree: its
Python process, the JVM that process launches, the ``pyspark.daemon``
and the Python workers the daemon forks. Machine-wide ``/proc/stat``
would count every other process on the host, so it is read only for
context (steal, load1), never for a metric.

Each process contributes ``utime + stime + cutime + cstime``. A child
that exits and is reaped adds its totals to its parent's ``cutime`` and
``cstime``, so the sum over the live tree keeps the CPU of workers that
ended between two snapshots, and counts nothing twice.

Every reader takes ``proc`` (the procfs root) so tests can point it at
a fake tree.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")

# cmdline marker of the Python worker processes: the daemon runs as
# ``python -m pyspark.daemon`` and forks the workers, which keep its cmdline
WORKER_MARKER = b"pyspark.daemon"


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    cpu_ticks: int  # utime + stime + cutime + cstime


def read_proc(pid: int, proc: str = "/proc") -> Proc | None:
    """One process's parent and CPU ticks, or None if it has exited."""
    try:
        with open(f"{proc}/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(b")") + 2 :].split()
    # fields[0] is field 3 (state); ppid is field 4, utime..cstime are 14..17
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return Proc(pid, int(fields[1]), utime + stime + cutime + cstime)


def snapshot(proc: str = "/proc") -> dict[int, Proc]:
    """Every readable process on the host, keyed by pid."""
    out: dict[int, Proc] = {}
    for name in os.listdir(proc):
        if name.isdigit():
            p = read_proc(int(name), proc)
            if p is not None:
                out[p.pid] = p
    return out


def descendants(root: int, procs: dict[int, Proc]) -> set[int]:
    """``root`` and every process below it in ``procs``."""
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    seen = {root} if root in procs else set()
    stack = [root]
    while stack:
        for c in children.get(stack.pop(), ()):
            if c not in seen:
                seen.add(c)
                stack.append(c)
    return seen


def cmdline(pid: int, proc: str = "/proc") -> bytes:
    try:
        with open(f"{proc}/{pid}/cmdline", "rb") as f:
            return f.read()
    except OSError:
        return b""


def worker_pids(tree: set[int], proc: str = "/proc") -> set[int]:
    """The Python worker processes (daemon included) within ``tree``."""
    return {pid for pid in tree if WORKER_MARKER in cmdline(pid, proc)}


def jvm_pids(tree: set[int], proc: str = "/proc") -> set[int]:
    return {pid for pid in tree if os.path.basename(cmdline(pid, proc).split(b"\0")[0]) == b"java"}


def vm_hwm_mb(pid: int, proc: str = "/proc") -> float:
    """Peak resident set (VmHWM) of one process in MB; 0 if gone."""
    try:
        with open(f"{proc}/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


@dataclass(frozen=True)
class TreeSample:
    """CPU seconds of the whole tree and of its Python-worker part,
    plus the peak RSS (MB) of the workers and of the JVM."""

    cpu_s: float
    worker_cpu_s: float
    worker_hwm_mb: float
    jvm_hwm_mb: float


def sample_tree(root: int | None = None, proc: str = "/proc") -> TreeSample:
    root = os.getpid() if root is None else root
    procs = snapshot(proc)
    tree = descendants(root, procs)
    workers = worker_pids(tree, proc)
    return TreeSample(
        cpu_s=sum(procs[p].cpu_ticks for p in tree) / CLK_TCK,
        worker_cpu_s=sum(procs[p].cpu_ticks for p in workers) / CLK_TCK,
        worker_hwm_mb=max((vm_hwm_mb(p, proc) for p in workers), default=0.0),
        jvm_hwm_mb=max((vm_hwm_mb(p, proc) for p in jvm_pids(tree, proc)), default=0.0),
    )


def machine_ticks(proc: str = "/proc") -> tuple[int, int]:
    """(steal, busy) jiffies of the whole host, busy including steal."""
    with open(f"{proc}/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = (vals + [0] * 8)[:8]
    return steal, user + nice + system + irq + softirq + steal


def load1(proc: str = "/proc") -> float:
    with open(f"{proc}/loadavg") as f:
        return float(f.read().split()[0])
