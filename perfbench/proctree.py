"""CPU seconds and PSS of this process and all its descendants, from /proc.

The tree is the benchmark's Python driver, the Spark JVM it launches and
the Python workers the JVM forks. CPU counts each live process's own time
plus the time of its children that have exited and been reaped, so work
done by a worker that exits between two snapshots is not lost.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return comm, int(fields[1]), ticks / _TICK


def snapshot() -> dict[int, tuple[str, int, float]]:
    """{pid: (comm, ppid, cpu_s)} for this process and every descendant."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    keep, frontier = {}, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        if pid in procs and pid not in keep:
            keep[pid] = procs[pid]
            frontier.extend(p for p, st in procs.items() if st[1] == pid)
    return keep


def cpu_split(snap: dict[int, tuple[str, int, float]]) -> dict[str, float]:
    """CPU seconds by role: ``driver`` (this process), ``jvm`` (java
    processes) and ``python`` (every other descendant: the JVM's Python
    daemon and workers)."""
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "python": 0.0}
    for pid, (comm, _, cpu) in snap.items():
        role = "driver" if pid == me else "jvm" if comm == "java" else "python"
        out[role] += cpu
    return out


def pss_mb(pids) -> float:
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class PeakPss:
    """Samples the tree's summed PSS on a background thread; ``stop``
    returns the largest sample seen since ``start``."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="pss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, pss_mb(snapshot()))
            self._stop.wait(self.interval_s)

    def start(self) -> "PeakPss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb
