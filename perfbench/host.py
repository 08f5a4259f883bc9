"""Host facts for each run's output, and the memory sampler.

The session is sized from the machine: cpus = the cores this process
may run on, driver memory = a quarter of host RAM (1-8 GiB). Steal
time and load average are recorded so a noisy run shows it.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    return f"{min(8, max(1, int(mem_total_gib() // 4)))}g"


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def descendants(root: int) -> list[int]:
    """All live descendants of process ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited; kill what is left at the deadline."""
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


class HostWatch:
    """Steal share of CPU time and load average over the timed section,
    and the peak resident memory of a process tree (the driver JVM and
    the Python workers it forks), sampled every 100 ms."""

    def __init__(self, root_pid: int):
        self.root_pid = root_pid
        self.peak_rss_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def __enter__(self) -> "HostWatch":
        self._t0 = _cpu_times()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        t1 = _cpu_times()
        delta = [b - a for a, b in zip(self._t0, t1)]
        self.steal_pct = 100.0 * delta[7] / max(1, sum(delta)) if len(delta) > 7 else 0.0
        self.loadavg = os.getloadavg()

    def _tree_rss_mb(self) -> float:
        total = 0
        for pid in [self.root_pid, *descendants(self.root_pid)]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
        return total * os.sysconf("SC_PAGE_SIZE") / (1 << 20)

    def _sample(self) -> None:
        while not self._stop.is_set():
            self.peak_rss_mb = max(self.peak_rss_mb, self._tree_rss_mb())
            self._stop.wait(0.1)
