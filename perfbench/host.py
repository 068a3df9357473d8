"""Readings from /proc: the process tree's CPU and peak memory, and the
host load that lets a run on a contended box be told apart from its
artifact."""

from __future__ import annotations

import os

from stats import descendants, tree_sum

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, CPU seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces or parens: split after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return int(fields[1]), (utime + stime + cutime + cstime) / _TICK


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            cmd = fh.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


def scan() -> tuple[dict[int, int], dict[int, float]]:
    """Parent pid and CPU seconds of every live process."""
    parents, cpu = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parents[int(name)], cpu[int(name)] = st
    return parents, cpu


class ProcessTree:
    """The benchmark process plus its JVM and Python-worker descendants."""

    def __init__(self):
        self.root = os.getpid()

    def cpu_s(self) -> float:
        parents, cpu = scan()
        return tree_sum(cpu, parents, self.root)

    def worker_cpu_s(self) -> float:
        """CPU of the Python workers (the daemon's own plus its reaped
        forks, carried in its ``cutime``)."""
        parents, cpu = scan()
        tree = descendants(parents, self.root)
        return sum(cpu[p] for p in tree if p != self.root and _is_python_worker(p))

    def hwm_mb(self) -> float:
        """VmHWM summed over the live processes of the tree."""
        parents, _ = scan()
        tree = descendants(parents, self.root)
        return tree_sum({p: _hwm_mb(p) for p in tree}, parents, self.root)


def _pressure() -> str | None:
    try:
        with open("/proc/pressure/cpu") as fh:
            return fh.read().strip()
    except OSError:
        return None


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def load() -> dict:
    """Load average and CPU pressure at one instant."""
    return {"loadavg": list(os.getloadavg()), "pressure_cpu": _pressure()}
