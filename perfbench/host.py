"""Host-noise readings from /proc: CPU steal, co-tenant cores, and the
resident memory of this process tree.

Co-tenant cores follow bench.py's ``_cotenant_cores`` method and reuse its
tick counters: system-wide busy ticks from /proc/stat minus the ticks our
own process tree (driver Python, JVM, Python workers) burned over the same
span. Steal is read from its own /proc/stat column and taken out of "busy",
so a hypervisor taking time from this guest shows as steal, not as a
co-tenant.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

from bench import _total_busy_ticks, _tree_cpu_ticks

HZ = os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(total, steal) ticks summed over all cores."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...; guest time is
    # already counted in user/nice
    return sum(v[:8]), v[7]


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the last ')'
    return s[s.rindex(")") + 2:].split()


def _procs() -> dict[int, list[str]]:
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(d)
            if f is not None:
                out[int(d)] = f
    return out


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for pid, f in _procs().items():
        children.setdefault(int(f[1]), []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """Proportional set size of the process tree: pages a forked Python
    worker shares with its daemon count once, not once per process as in
    summed RSS."""
    return sum(_pss_kb(p) for p in [root, *descendants(root)]) / 1024


@dataclass
class Reading:
    secs: float
    steal_share: float
    cotenant_cores: float


class Probe:
    """Brackets one op: ``start()`` then ``stop()`` returns its Reading."""

    def __init__(self):
        self.pid = os.getpid()

    def start(self) -> None:
        self._t = time.perf_counter()
        self._busy = _total_busy_ticks()
        self._total, self._steal = steal_ticks()
        self._tree = _tree_cpu_ticks(self.pid)

    def stop(self) -> Reading:
        dt = max(time.perf_counter() - self._t, 1e-9)
        busy = _total_busy_ticks() - self._busy
        total, steal = steal_ticks()
        steal -= self._steal
        other = busy - steal - (_tree_cpu_ticks(self.pid) - self._tree)
        return Reading(dt, steal / max(total - self._total, 1), max(0.0, other / HZ / dt))


class RssSampler:
    """Peak resident memory (PSS) of the process tree, sampled on a thread
    while timed ops run."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb(pid))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
