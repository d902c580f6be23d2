"""What the machine looked like during a run: core count, library
versions, peak memory of this process tree, and whether a foreign Spark
process competed for the cores."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def versions() -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {"pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "duckdb": duckdb.__version__}


def _stat(pid: str) -> tuple[int, int, str] | None:
    """(ppid, rss bytes, command name) from /proc/<pid>/stat, or None if
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            head, _, tail = f.read().rpartition(")")
    except OSError:
        return None
    fields = tail.split()
    # fields[0] is field 3 (state): ppid is field 4, rss (pages) field 24
    return int(fields[1]), int(fields[21]) * _PAGE, head.partition("(")[2]


def solo() -> bool:
    """True when no foreign Spark process runs on this machine: the
    ``/proc`` scan of the repository's ``bench.py``."""
    from bench import _box_is_solo

    return _box_is_solo()


def tree_rss(root: int) -> dict[str, int]:
    """RSS of ``root`` and its descendants, summed per command name."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                stats[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ours, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in ours:
            continue
        ours.add(pid)
        todo.extend(children.get(pid, []))
    rss: dict[str, int] = {}
    for p in ours:
        if p in stats:
            _, b, comm = stats[p]
            rss[comm] = rss.get(comm, 0) + b
    return rss


class TreeSampler:
    """Background thread sampling this process tree's summed RSS about
    every ``interval`` seconds; checks for foreign Spark processes every
    ``solo_every`` samples. ``mark()`` closes a window (one cycle of
    ops) and keeps its peak."""

    def __init__(self, interval: float = 0.2, solo_every: int = 25):
        self.interval = interval
        self.solo_every = solo_every
        self.peak_rss = 0
        #: RSS per command name at the peak
        self.peak_parts: dict[str, int] = {}
        #: peak summed RSS of each closed window
        self.window_peaks: list[int] = []
        self._window_peak = 0
        self.samples = 0
        self.solo = True
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            parts = tree_rss(me)
            rss = sum(parts.values())
            if rss > self.peak_rss:
                self.peak_rss, self.peak_parts = rss, parts
            self._window_peak = max(self._window_peak, rss)
            if self.samples % self.solo_every == 0:
                self.solo = solo() and self.solo
            self.samples += 1
            self._stop.wait(self.interval)

    def mark(self) -> None:
        peak, self._window_peak = self._window_peak, 0
        if peak:
            self.window_peaks.append(peak)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")
