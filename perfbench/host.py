"""Host pinning, host context and the peak-RSS sampler."""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")


def cpus() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A driver heap that fits the host: a quarter of RAM, at most 1 GB
    (the generated inputs are a few MB; a small cap also keeps the
    JVM's resident size from swinging with heap expansion)."""
    total_mb = os.sysconf("SC_PHYS_PAGES") * PAGE // (1 << 20)
    return f"{max(512, min(1024, total_mb // 4))}m"


def load1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (the Python
    driver, the JVM it launched and the Python workers), as summed
    proportional set size: pages shared between processes, such as a
    forked Python worker's, are counted once rather than per process."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            total += _pss_bytes(pid)
        except OSError:
            pass  # exited between listing and reading
    return total


class PeakRss:
    """Background sampler of the process tree's RSS; ``stop`` returns the peak."""

    def __init__(self, period_s: float = 0.25):
        self._period = period_s
        self._stop = threading.Event()
        self.peak = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self._period)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak
