"""CPU and memory of the Spark JVM and its Python workers, read from
``/proc``.

In local mode the executors run inside the driver JVM, and pandas/Arrow
UDFs run in Python worker processes the JVM forks (through the PySpark
daemon). Both are descendants of the JVM pid, so one process-tree walk
covers the whole bill. The benchmark's own process is not counted.

Memory is the proportional set size (PSS): pages a forked worker still
shares with the PySpark daemon count once, split between them, where
summing resident sizes would count them in every process.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped-children cpu s) or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after its ')'
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime) / _TICK, (cutime + cstime) / _TICK


def _pss(pid: int) -> int:
    """Proportional set size in bytes, 0 if the process is gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _tree(root: int) -> dict[int, tuple[int, float, float]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    members = {root}
    grew = True
    while grew:
        grew = False
        for pid, st in stats.items():
            if pid not in members and st[0] in members:
                members.add(pid)
                grew = True
    return {pid: stats[pid] for pid in members if pid in stats}


def tree_pids(root: int) -> list[int]:
    """The root process and all its descendants that are alive now."""
    return list(_tree(root))


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` exists; returns those still alive."""
    deadline = time.time() + timeout
    alive = pids
    while alive and time.time() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    return alive


class ProcSampler:
    """Samples the JVM's process tree every ``interval`` seconds in a
    background thread, keeping the peak PSS of the JVM and of its workers
    (summed) and the tree's cumulative CPU over time; ``cpu()`` reads the
    CPU on demand, ``cpu_at()`` interpolates it from the samples."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_jvm = self.peak_workers = 0
        self.history: list[tuple[float, float, float]] = []  # (time, jvm cpu s, workers cpu s)
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, name="proc-sampler", daemon=True)

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        t = time.time()
        tree = _tree(self.jvm_pid)
        jvm_cpu, workers_cpu = self._cpu(tree)
        jvm = workers = 0
        for pid in tree:
            if pid == self.jvm_pid:
                jvm = _pss(pid)
            else:
                workers += _pss(pid)
        with self._lock:
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_workers = max(self.peak_workers, workers)
            self.history.append((t, jvm_cpu, workers_cpu))

    def _cpu(self, tree: dict[int, tuple[int, float, float]]) -> tuple[float, float]:
        jvm = tree.get(self.jvm_pid, (0, 0.0, 0.0))[1]
        workers = sum(st[1] + st[2] for pid, st in tree.items() if pid != self.jvm_pid)
        return jvm, workers

    def cpu(self) -> tuple[float, float]:
        """Cumulative CPU seconds as (jvm, python workers). Workers that
        exited and were reaped are counted through their parent's
        children-time fields."""
        return self._cpu(_tree(self.jvm_pid))

    def cpu_at(self, t: float) -> tuple[float, float]:
        """Cumulative CPU as ``cpu()`` read it at time ``t``, interpolated
        linearly between the two samples around ``t``."""
        with self._lock:
            hist = list(self.history)
        times = [h[0] for h in hist]
        return (float(np.interp(t, times, [h[1] for h in hist])),
                float(np.interp(t, times, [h[2] for h in hist])))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
