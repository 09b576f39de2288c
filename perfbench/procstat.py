"""Process-tree CPU and memory from ``/proc``, and the tail-percentile rule.

CPU is thread time (user + sys), which does not advance while the
hypervisor steals a vCPU, so it stays meaningful on a contended host.
Memory is the kernel's high-water mark (``VmHWM``) per process, which a
sampler cannot miss.
"""

from __future__ import annotations

import math
import os

CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _stat_fields(proc: str, pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the ``(comm)`` field, or None
    when the process is gone. The command name may hold spaces and
    parentheses, so split after the LAST ``)``."""
    try:
        with open(os.path.join(proc, str(pid), "stat")) as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant of it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        fields = _stat_fields(proc, int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return sorted(tree)


def cpu_seconds(pids: list[int], proc: str = "/proc") -> float:
    """User + sys CPU of ``pids``, including children they have reaped
    (``cutime``/``cstime``), so short-lived Python workers still count
    once their parent has waited for them."""
    ticks = 0
    for pid in pids:
        f = _stat_fields(proc, pid)
        if f is not None:
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def vm_hwm_kb(pid: int, proc: str = "/proc") -> int | None:
    """Peak resident set size of ``pid`` in KiB, or None when gone."""
    try:
        with open(os.path.join(proc, str(pid), "status")) as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


class TreeWatch:
    """Follows the process tree under one root over a timed window.

    ``observe()`` records each live process's ``VmHWM`` (monotone per
    process, so the highest reading is its peak) and is called after
    every op; ``peak_mb()`` sums the per-process peaks."""

    def __init__(self, root: int, proc: str = "/proc"):
        self.root, self.proc = root, proc
        self.hwm_kb: dict[int, int] = {}
        self.cpu0 = 0.0

    def observe(self) -> list[int]:
        pids = process_tree(self.root, self.proc)
        for pid in pids:
            kb = vm_hwm_kb(pid, self.proc)
            if kb is not None:
                self.hwm_kb[pid] = max(kb, self.hwm_kb.get(pid, 0))
        return pids

    def start(self) -> None:
        self.cpu0 = cpu_seconds(self.observe(), self.proc)

    def cpu_since_start(self) -> float:
        return cpu_seconds(self.observe(), self.proc) - self.cpu0

    def peak_mb(self) -> float:
        return sum(self.hwm_kb.values()) / 1024.0


def nearest_rank(samples: list[float], p: int) -> tuple[float, int]:
    """The ``p``-th percentile by nearest rank, as ``(value, beyond)``:
    ``beyond`` is how many samples lie after it in sorted order."""
    ordered = sorted(samples)
    rank = max(1, math.ceil(p * len(ordered) / 100))
    return ordered[rank - 1], len(ordered) - rank


def tail_percentile(
    samples: list[float], min_beyond: int = 10, cap: int = 90
) -> tuple[int, float] | None:
    """The highest whole percentile, up to ``cap``, that has at least
    ``min_beyond`` samples strictly after it in sorted order (nearest-rank
    definition), as ``(percentile, value)``; None when there are too few
    samples for any percentile to qualify."""
    n = len(samples)
    ordered = sorted(samples)
    for p in range(cap, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= min_beyond:
            return p, ordered[rank - 1]
    return None

