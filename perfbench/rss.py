"""Peak resident memory of this process and everything it started.

Reads ``VmRSS`` from ``/proc/<pid>/status`` for the benchmark process and
all of its descendants — the Spark driver JVM and the ``pyspark.daemon``
Python workers it forks — and keeps the peak of their sum, sampled from a
background thread.  ``/proc`` only: no third-party process library.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict:
    """ppid -> [pid] over every process visible in /proc."""
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # field 2 (comm) may hold spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list:
    """Every live descendant of ``pid`` (not ``pid`` itself)."""
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv0 = f.read().split(b"\0", 1)[0]
    except OSError:
        return "gone"
    return "jvm" if argv0.endswith(b"java") else "python"


def tree_rss(pid: int) -> dict:
    """{"driver", "jvm", "python"} RSS bytes of ``pid`` (the driver) and of
    its descendants, split into the JVM and everything else (the Python
    workers)."""
    out = {"driver": rss_bytes(pid), "jvm": 0, "python": 0}
    for p in descendants(pid):
        kind = _kind(p)
        if kind != "gone":
            out[kind] += rss_bytes(p)
    return out


class PeakRss:
    """Background sampler of the summed RSS of this process tree.

    Use as a context manager around the measured region; ``peak_mb`` is
    the largest sum seen (one sample is always taken on exit)."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: dict = {}
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _sample(self) -> None:
        parts = tree_rss(os.getpid())
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.peak_parts = total, parts
        self.samples += 1

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20

    def peak_parts_mb(self) -> dict:
        return {k: round(v / 2**20, 1) for k, v in self.peak_parts.items()}
