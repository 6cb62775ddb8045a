"""Peak resident memory of the Spark side of a run.

A background thread sums the RSS of the driver JVM (the child this process
starts through ``spark-submit``) and of every Python process below it —
the PySpark daemon and its workers — and keeps the largest sum seen. Other
descendants are left out: a JVM child between ``vfork`` and ``exec``
reports the JVM's whole RSS for a moment. The benchmark's own Python
process is left out too: it only holds inputs, results and checks.
"""

from __future__ import annotations

import os
import threading
from collections import defaultdict

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _spark_rss(root: int) -> int:
    children: dict[int, list[tuple[int, str]]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # the command name may contain spaces; fields after ")" are fixed
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append((int(name), comm))
    total = 0
    todo = [(pid, True) for pid, _ in children[root]]
    while todo:
        pid, counted = todo.pop()
        todo.extend((c, comm.startswith("python")) for c, comm in children[pid])
        if not counted:
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRSS:
    """``with PeakRSS() as m: ...`` then ``m.peak_mb``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _spark_rss(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRSS":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 1e6
