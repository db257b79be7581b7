"""CPU time and peak memory of the Spark JVM and its Python workers,
read from ``/proc``.

The tree is the JVM plus every descendant (the ``pyspark.daemon``
processes and the workers they fork). A process's own ``utime+stime``
plus ``cutime+cstime`` (its reaped children) counts every CPU second of
the tree exactly once: live children report their own time, dead ones
were folded into their parent's ``cu/cs`` fields when reaped.
"""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, cpu ticks incl. reaped children) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    fields = s[s.rindex(")") + 2:].split()
    # fields[0] is state (field 3); ppid is field 4, utime..cstime 14..17
    return int(fields[1]), sum(int(x) for x in fields[11:15])


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcTree:
    """Samples the process tree rooted at ``root`` (the JVM pid)."""

    def __init__(self, root: int):
        self.root = root
        self.peak_kb: dict[int, int] = {}

    def _tree(self) -> dict[int, int]:
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    stats[int(d)] = st
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid][1]
                todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        return sum(self._tree().values()) / _HZ

    def sample_rss(self) -> None:
        for pid in self._tree():
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), _hwm_kb(pid))

    def peak_rss_mb(self) -> float:
        return sum(self.peak_kb.values()) / 1024.0
