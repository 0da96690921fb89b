"""CPU time and resident memory of a process tree, read from /proc.

The pipeline runs in the Spark JVM and in Python workers forked below
it, so both are summed over the tree rooted at the JVM launcher. CPU of
workers that already exited is kept: their parent reaps them, and the
kernel folds their time into the parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_table() -> dict[int, list[str]]:
    """pid → /proc/<pid>/stat fields after the command name."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited between listdir and open
            continue
        table[int(name)] = raw[raw.rindex(")") + 2 :].split()
    return table


def _tree(root: int, table: dict[int, list[str]]) -> list[int]:
    """``root`` and the pids of every process below it, root first."""
    children: dict[int, list[int]] = {}
    for pid, fields in table.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    """Pids of every process below ``root``."""
    return _tree(root, _stat_table())[1:]


def alive(pids: list[int]) -> list[int]:
    """The pids still running (zombies count as ended)."""
    table = _stat_table()
    return [p for p in pids if p in table and table[p][0] != "Z"]


def wait_gone(pids: list[int], timeout_s: float) -> bool:
    """Wait until none of ``pids`` runs; True if that happened in time."""
    end = time.monotonic() + timeout_s
    while alive(pids):
        if time.monotonic() > end:
            return False
        time.sleep(0.05)
    return True


def tree_usage(root: int) -> tuple[float, int, int]:
    """(CPU seconds of the tree, RSS bytes of ``root``, RSS bytes of its
    descendants) for ``root`` and everything below it."""
    table = _stat_table()
    cpu, rss = 0.0, {}
    for pid in _tree(root, table):
        fields = table.get(pid)
        if fields is not None:
            # utime, stime, cutime, cstime; then rss in pages
            cpu += sum(int(x) for x in fields[11:15]) / _TICK
            rss[pid] = int(fields[21]) * _PAGE
    own = rss.pop(root, 0)
    return cpu, own, sum(rss.values())


def pin_tree(root: int, cpu: int) -> None:
    """Pin every thread of ``root`` and its descendants to ``cpu``;
    threads and processes they start later inherit the mask."""
    for pid in _tree(root, _stat_table()):
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                os.sched_setaffinity(int(tid), {cpu})
        except OSError:  # exited meanwhile
            pass


class PeakRss:
    """Sample the tree's RSS in a thread: ``peak_root`` and
    ``peak_children`` are the maxima of the root's own RSS and of its
    descendants' summed RSS."""

    def __init__(self, root: int, every_s: float = 0.2):
        self.root = root
        self.every_s = every_s
        self.peak_root = self.peak_children = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            _, own, children = tree_usage(self.root)
            self.peak_root = max(self.peak_root, own)
            self.peak_children = max(self.peak_children, children)
            if self._stop.wait(self.every_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
