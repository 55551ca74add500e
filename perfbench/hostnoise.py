"""Host counters and process-tree memory, read from /proc.

The benchmark's Spark workloads run a JVM as a child process, so peak
memory and CPU time are summed over the whole process tree, sampled by a
background thread."""

from __future__ import annotations

import os
import threading
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def steal_ticks() -> int:
    """The host-wide ``steal`` column of the cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def loadavg() -> float:
    return float(Path("/proc/loadavg").read_text().split()[0])


def _stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, utime+stime ticks, rss bytes) or None once the process is gone."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2 :].split()
    return int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[21]) * _PAGE


class TreeSampler:
    """Samples RSS and CPU of this process and all its descendants."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.root = os.getpid()
        self.peak_rss = 0
        self._cpu_ticks: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._lock = threading.Lock()

    def __enter__(self) -> "TreeSampler":
        self.steal_start = steal_ticks()
        self.loadavg_start = loadavg()
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
        self.steal_s = (steal_ticks() - self.steal_start) / _TICK

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def sample(self) -> None:
        stats = {}
        for entry in os.scandir("/proc"):
            if entry.name.isdigit():
                st = _stat(int(entry.name))
                if st is not None:
                    stats[int(entry.name)] = st
        tree = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _, _) in stats.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        with self._lock:
            self.peak_rss = max(self.peak_rss, sum(stats[p][2] for p in tree if p in stats))
            for p in tree:
                if p in stats:
                    self._cpu_ticks[p] = max(self._cpu_ticks.get(p, 0), stats[p][1])

    @property
    def cpu_s(self) -> float:
        with self._lock:
            return sum(self._cpu_ticks.values()) / _TICK

    def counters(self) -> dict[str, float]:
        return {
            "host.steal_s": self.steal_s,
            "host.cpu_s": self.cpu_s,
            "host.loadavg_start": self.loadavg_start,
        }
