"""Measurement helpers shared by the workloads: percentiles, metric names,
on-disk sizes and the peak resident memory of the benchmark's process tree.

Everything here is plain Python (no Spark), so the unit tests in
``perfbench/tests`` run without a JVM.
"""

from __future__ import annotations

import os
import re
import statistics
import threading

METRIC_NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def check_metric_name(name: str) -> str:
    """Return `name` if it is a valid metric name, else raise ValueError."""
    if not (isinstance(name, str) and 0 < len(name) <= 64 and METRIC_NAME_RE.fullmatch(name)
            and name[0].isalnum()):
        raise ValueError(f"invalid metric name {name!r}")
    return name


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


TAIL_BEYOND = 10  # samples a tail percentile must leave above it


def tail_percentile(samples) -> tuple[float, float] | None:
    """The highest percentile that still has at least TAIL_BEYOND samples
    above it, as (percentile, value); None when there are too few samples.

    With n sorted samples the value at 1-based rank n - TAIL_BEYOND has
    exactly TAIL_BEYOND samples beyond it, so its percentile is
    100 * (n - TAIL_BEYOND) / n: p95 needs 200 samples, p90 needs 100."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    rank = n - TAIL_BEYOND
    return 100.0 * rank / n, float(xs[rank - 1])


def dir_bytes(path: str) -> int:
    """Total size of the regular files under `path`."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(root, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.2


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # process exited while we listed /proc
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """`root` and all its descendants (driver, JVM, Python workers)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the resident memory of this process tree on a background
    thread; `peak_mb` is the largest sum seen. Use as a context manager so
    the thread is always stopped and joined."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(root))
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)
