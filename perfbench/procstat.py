"""CPU, memory and host accounting from ``/proc`` (Linux).

CPU is split by process: the JVM (``jvm``: every thread it ran,
JIT compilers and threads that have exited included) and every Python
worker the JVM started (``python``). The benchmark's own process is
not counted, so its RSS sampler and ``/proc`` scans stay out. Python
workers come and go between jobs, so a sum over the live processes
alone can move backwards. Here a worker's time is never lost: while it
lives it is read from its own ``stat``, and once its parent reaps it,
it is in the parent's ``cutime``/``cstime``. The JVM's
``cutime``/``cstime`` hold Python daemons it reaped, so they count as
Python.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class Cpu:
    jvm: float
    python: float

    @property
    def total(self) -> float:
        return self.jvm + self.python

    def __sub__(self, other: Cpu) -> Cpu:
        return Cpu(self.jvm - other.jvm, self.python - other.python)


def _stat(pid: int) -> tuple[int, int, int, int, int, int] | None:
    """(ppid, utime, stime, cutime, cstime, rss_pages) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may hold spaces and parens: fields resume after the last ')'.
    f = raw[raw.rindex(b")") + 2:].split()
    return int(f[1]), int(f[11]), int(f[12]), int(f[13]), int(f[14]), int(f[21])


def _descendants(root: int) -> dict[int, tuple]:
    """Stat of every live process below ``root``."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(st[0], []).append(pid)
    out, todo = {}, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out[pid] = stats[pid]
        todo.extend(kids.get(pid, []))
    return out


class ProcessTree:
    """The JVM started for the Spark driver and everything below it."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def cpu(self) -> Cpu:
        jvm = _stat(self.jvm_pid)
        if jvm is None:
            raise RuntimeError(f"JVM process {self.jvm_pid} is gone")
        python = jvm[3] + jvm[4]
        for st in _descendants(self.jvm_pid).values():
            python += st[1] + st[2] + st[3] + st[4]
        return Cpu((jvm[1] + jvm[2]) / _TICK, python / _TICK)

    def rss_bytes(self) -> int:
        jvm = _stat(self.jvm_pid)
        pages = 0 if jvm is None else jvm[5]
        pages += sum(st[5] for st in _descendants(self.jvm_pid).values())
        return pages * _PAGE


class RssPeak:
    """Samples the tree's total RSS every ``interval`` seconds in a
    daemon thread while the ``with`` block runs; ``peak`` is the max."""

    def __init__(self, tree: ProcessTree, interval: float = 0.05) -> None:
        self.tree = tree
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, self.tree.rss_bytes())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> RssPeak:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self.tree.rss_bytes())


class HostClock:
    """Steal share of all CPU time across the host, between two
    readings of the aggregate ``cpu`` line of ``/proc/stat``."""

    @staticmethod
    def read() -> tuple[int, int]:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        # user nice system idle iowait irq softirq steal (guest* are
        # already inside user/nice)
        return f[7], sum(f[:8])

    def __init__(self) -> None:
        self.start = self.read()

    def steal_frac(self) -> float:
        steal, total = self.read()
        d_total = total - self.start[1]
        return (steal - self.start[0]) / d_total if d_total else 0.0


def loadavg_1m() -> float:
    return os.getloadavg()[0]
