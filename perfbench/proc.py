"""Host facts and process-tree accounting read from ``/proc``.

CPU time covers every descendant of the benchmark process: the driver
JVM that pyspark launches, the Python worker daemon and its forked
workers. The benchmark's own interpreter is left out; during a job it
only waits on the JVM. Peak RSS covers the Python workers only: the
JVM's resident heap follows its collector's sizing policy and swings
by 2x between identical jobs, which would hide any change the kernel
makes to its own memory.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_RSS_INTERVAL_S = 0.05  # how often RssPeak sums the workers' RSS
_RSS_RESCAN_S = 0.5     # how often it looks for new workers


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host() -> dict:
    model = "unknown"
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"nproc": nproc(), "cpu_model": model, "loadavg": load}


def steal_s() -> float:
    """Cumulative CPU steal of the whole host, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s.rsplit(")", 1)[1].split()


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s() -> float:
    """utime + stime of every live descendant plus what their reaped
    children used (cutime + cstime), so a worker that exits mid-job is
    still counted, once."""
    total = 0
    for pid in descendants():
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssPeak:
    """Samples the summed RSS of the Python workers on a thread while
    the ``with`` block runs; ``peak_mb`` holds the largest sum seen."""

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, scanned = [], 0.0
        while True:
            now = time.monotonic()
            if now - scanned >= _RSS_RESCAN_S:
                pids = [p for p in descendants() if _comm(p) != "java"]
                scanned = now
            mb = sum(_rss_bytes(p) for p in pids) / 1e6
            self.peak_mb = max(self.peak_mb, mb)
            if self._stop.wait(_RSS_INTERVAL_S):
                return

    def __enter__(self) -> RssPeak:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
