"""Arithmetic the benchmark reports: medians, span self time and
process-tree sums. Pure functions over plain data, so the self-tests can
pin them without a Spark session or a live /proc."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Mapping


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def covered(interval: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """Length of the part of ``interval`` covered by the union of the
    ``children`` intervals (clipped to ``interval``; overlaps counted once)."""
    lo, hi = interval
    clipped = sorted(
        (max(lo, a), min(hi, b)) for a, b in children if min(hi, b) > max(lo, a)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(interval: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (interval[1] - interval[0]) - covered(interval, children)


def descendants(parents: Mapping[int, int], root: int) -> set[int]:
    """``root`` and every pid whose parent chain reaches it."""
    children: dict[int, list[int]] = {}
    for pid, ppid in parents.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in out:
            continue
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_sum(values: Mapping[int, float], parents: Mapping[int, int], root: int) -> float:
    """Sum of ``values`` over the process tree rooted at ``root``.

    For CPU, each value is a process's own time plus its reaped
    children's (``utime + stime + cutime + cstime``): a Python worker
    that has exited and been reaped is then still counted, in its
    parent's ``cutime``. For memory each value is that process's VmHWM.
    """
    return sum(values.get(pid, 0.0) for pid in descendants(parents, root))
