"""Host and process counters read from ``/proc`` (no psutil here).

* ``RssSampler``: a daemon thread that sums resident memory over the
  benchmark process, the driver JVM and every process below the JVM (the
  PySpark worker daemon and its workers) and keeps the peak.
* ``cpu_seconds``: user + system CPU of one process, with its reaped
  children when asked.
* ``cpu_ticks`` / ``available_share``: busy and stolen CPU time of the VM,
  used to take hypervisor steal out of the wall-clock metrics.
* ``loadavg_1m``: host diagnostic recorded next to every run.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; everything after the closing paren is fixed.
    return raw[raw.rindex(")") + 2 :].split()


def cpu_seconds(pid: int, children: bool = False) -> float:
    """utime + stime (+ cutime + cstime) of ``pid`` in seconds."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def descendants(root: int) -> list[int]:
    """All live processes below ``root`` (one scan of /proc)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                parent[int(name)] = int(f[1])
    out: list[int] = []
    frontier = [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of the whole VM since boot, all CPUs summed.
    Stolen ticks are time a CPU had work but the hypervisor ran something
    else."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def steal_seconds(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return (t1[1] - t0[1]) / _TICK


def available_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the VM's runnable CPU time between two ``cpu_ticks``
    readings that the hypervisor did not steal (1.0 on an idle host)."""
    busy, stolen = t1[0] - t0[0], t1[1] - t0[1]
    return busy / (busy + stolen) if busy + stolen > 0 else 1.0


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class RssSampler:
    """Peak of the summed RSS of this process and the JVM's process tree,
    sampled every ``interval`` seconds until :meth:`stop`. ``peak`` is the
    peak since the last :meth:`reset`; ``overall`` the peak since start."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = 0
        self.overall = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak = 0

    def sample(self) -> None:
        pids = [os.getpid(), self.jvm_pid, *descendants(self.jvm_pid)]
        total = sum(rss_bytes(p) for p in pids)
        with self._lock:
            self.peak = max(self.peak, total)
            self.overall = max(self.overall, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.overall
