"""CPU and memory of the benchmark's process tree, read from /proc.

The tree is the benchmark (driver) process, the JVM it launched and the
JVM's Python worker daemon and workers. CPU counts utime + stime of each
live process plus cutime + cstime (children it already reaped), so a
worker that exits between two reads is still counted exactly once.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(roots: list[int]) -> list[int]:
    """`roots` and all their descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    seen, todo = set(), list(roots)
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.add(pid)
            todo.extend(children.get(pid, ()))
    return sorted(seen)


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields:  # utime stime cutime cstime
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def pss_bytes(pids: list[int]) -> int:
    """Resident memory of `pids` with each shared page counted once:
    the sum of their PSS. Python workers are forks of one daemon, so a
    plain RSS sum would count the daemon's pages once per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process ended
            pass
    return total


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def load_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class TreeSampler:
    """Tracks CPU-seconds and memory of a process tree over a run.

    ``start()`` reads the tree's CPU and starts a thread that samples its
    memory (`pss_bytes`) every `interval` seconds; ``stop()`` returns
    (cpu seconds, mean memory bytes, peak memory bytes) for the interval
    between them. The sampler's own CPU (reading smaps is kernel work
    charged to this process) is left out of the CPU figure."""

    def __init__(self, roots: list[int], interval: float = 0.5):
        self.roots = roots
        self.interval = interval
        self._stop = threading.Event()
        self._thread = None
        self._samples: list[int] = []
        self._cpu0 = 0.0
        self._own_cpu = 0.0

    def _sample(self) -> None:
        self._samples.append(pss_bytes(tree_pids(self.roots)))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            t0 = time.thread_time()
            self._sample()
            self._own_cpu += time.thread_time() - t0

    def start(self) -> None:
        self._samples = []
        self._own_cpu = 0.0
        self._stop.clear()
        self._sample()
        self._cpu0 = cpu_seconds(tree_pids(self.roots))
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> tuple[float, float, int]:
        cpu = cpu_seconds(tree_pids(self.roots)) - self._cpu0
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        mean = sum(self._samples) / len(self._samples)
        return cpu - self._own_cpu, mean, max(self._samples)
