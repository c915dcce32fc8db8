"""Spans around the benchmark's calls into each layer, and the arithmetic
that reconciles layer times with the wall time they should add up to.

Spans (name, start, end, parent) stay in memory until the run ends.
A span's self time is its duration minus the part of its interval that its
child spans cover.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """name -> summed self time over the spans of that name."""
        out: dict[str, float] = {}
        for s in self.spans:
            kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == s["id"]]
            out[s["name"]] = out.get(s["name"], 0.0) + self_time((s["start"], s["end"]), kids)
        return out


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of the union of ``parts`` clipped to ``interval``."""
    lo, hi = interval
    segs = sorted((max(a, lo), min(b, hi)) for a, b in parts if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in segs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(interval: tuple[float, float], children: list[tuple[float, float]]) -> float:
    return (interval[1] - interval[0]) - covered(interval, children)


def reconcile(wall_s: float, layers: dict[str, float], slack: float) -> dict:
    """How far the layer times fall short of (or exceed) ``wall_s``.

    ``gap_s`` = wall − Σ layers; ``gap_share`` = gap / wall; ``within`` says
    whether |gap_share| <= slack."""
    total = sum(layers.values())
    gap = wall_s - total
    share = gap / wall_s if wall_s > 0 else 0.0
    return {"wall_s": wall_s, "layers_s": total, "gap_s": gap, "gap_share": share,
            "slack": slack, "within": abs(share) <= slack}


# ---------------------------------------------------------------------------
# peak RSS of this process tree, sampled from /proc
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    """ppid -> pids of the live processes, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    return children


def descendants(root_pid: int) -> list[int]:
    """Pids of every descendant of ``root_pid`` (not ``root_pid`` itself)."""
    children = _children()
    out, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def running(pid: int) -> bool:
    """Whether ``pid`` exists and has not yet exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2 :].split()[0] != b"Z"


def wait_ended(pids: list[int], timeout_s: float) -> list[int]:
    """Wait up to ``timeout_s`` for ``pids`` to exit; returns those still
    running."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if running(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if running(p)]
    return left


def tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of ``root_pid`` and all its descendants (driver JVM and
    Python workers included)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Background sampler of this process tree's RSS. Each ``sampling()``
    window (one timed pass) records its own peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peaks: list[int] = []  # bytes, one per sampling window
        self._cur = 0
        self._lock = threading.Lock()
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self._cur = max(self._cur, rss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self.active.is_set():
                self._sample()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @contextmanager
    def sampling(self):
        with self._lock:
            self._cur = 0
        self.active.set()
        try:
            yield
        finally:
            self._sample()
            self.active.clear()
            with self._lock:
                self.peaks.append(self._cur)

    @property
    def median_peak_mb(self) -> float:
        """Median over the windows of each window's peak: one pass that
        meets a full-heap moment of the JVM does not set the figure alone."""
        return statistics.median(self.peaks) / (1024 * 1024)
