"""Host stamp and process-tree accounting read from ``/proc``.

The tree is this Python process and every descendant: the Spark JVM
and the Python workers it forks. CPU time is user+system of every live
member plus the time of children they already reaped, so workers that
exit mid-run still count. Peak RSS is sampled by a daemon thread.
"""

from __future__ import annotations

import os
import platform
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_count() -> int:
    """What ``env -u OMP_NUM_THREADS nproc`` prints: the CPUs this
    process may run on."""
    return len(os.sched_getaffinity(0))


def host_stamp() -> dict:
    import pyarrow
    import pyspark

    return {
        "cpus": cpu_count(),
        "loadavg_1m": os.getloadavg()[0],
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def tree(root: int | None = None) -> list[int]:
    pids, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def cpu_seconds(root: int | None = None) -> float:
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def rss_by_process(root: int | None = None) -> dict[str, int]:
    """Resident bytes of each live Python or JVM process in the tree,
    keyed by ``<pid>:<command name>``. Short-lived forks the JVM makes
    to run a command share its pages until they exec; counting them
    would add the whole JVM again."""
    out = {}
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            if comm != "java" and not comm.startswith("python"):
                continue
            with open(f"/proc/{pid}/statm") as fh:
                out[f"{pid}:{comm}"] = int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return out


class Meter:
    """CPU seconds and peak RSS of the process tree between
    ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_rss = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        parts = rss_by_process()
        total = sum(parts.values())
        if total > self.peak_rss:
            self.peak_rss, self.peak_parts = total, parts

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> "Meter":
        self._sample()
        self._cpu0 = cpu_seconds()
        self._t0 = time.perf_counter()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> dict:
        self.wall_s = time.perf_counter() - self._t0
        self.cpu_s = cpu_seconds() - self._cpu0
        self._stop.set()
        self._thread.join()
        self._sample()
        return {"wall_s": self.wall_s, "cpu_s": self.cpu_s, "peak_rss_mb": self.peak_rss / 2**20}
