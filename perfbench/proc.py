"""CPU time and peak RSS of the Spark processes this benchmark started: the
driver JVM and the Python worker daemon and workers below it, read from
``/proc``. The benchmark's own interpreter is excluded."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_table() -> dict[int, tuple[int, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss bytes).

    RSS counts only ``java`` and ``python*`` processes: while the JVM
    spawns a process, the forked child (named after the spawning thread)
    briefly shows the whole JVM's RSS again."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # comm may hold spaces: fields are counted after its closing ')'
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        f = raw[raw.rindex(")") + 2:].split()
        cpu = sum(int(x) for x in f[11:15]) / _TICK  # utime..cstime
        counted = comm == "java" or comm.startswith("python")
        rss = int(f[21]) * _PAGE if counted else 0
        table[int(name)] = (int(f[1]), cpu, rss)
    return table


def descendants(root: int, table: dict) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _cpu, _rss) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int | None = None) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over the descendants of ``root``.
    A worker that exits is reaped by its parent, which is a descendant too,
    so its CPU time stays in the sum through the parent's ``cutime``."""
    table = _stat_table()
    pids = descendants(os.getpid() if root is None else root, table)
    return (
        sum(table[p][1] for p in pids),
        sum(table[p][2] for p in pids),
    )


class PeakRss:
    """Samples the descendants' summed RSS in a thread; ``peak`` is the
    highest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, tree_usage()[1])
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakRss":
        self._t.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._t.join()
        self.peak = max(self.peak, tree_usage()[1])
        return self.peak
