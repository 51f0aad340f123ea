"""Measurements taken from outside the program: process-tree memory,
file opens, Spark stage metrics, parquet footers, percentiles.

Nothing here imports the engine; each probe reads what the operating
system, the JVM status store or the written files already expose.
"""

from __future__ import annotations

import ctypes
import ctypes.util
import math
import os
import select
import signal
import struct
import threading
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0-100) of a sample,
    the same rule as ``numpy.percentile``'s default."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


# --- memory -----------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its
    descendants, including exited children they have reaped."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:][:1] != b"Z"


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until every pid has exited; kill what is left at the
    deadline and wait for that too."""
    deadline = time.monotonic() + timeout_s
    while any(map(_alive, pids)) and time.monotonic() < deadline:
        time.sleep(0.1)
    left = [p for p in pids if _alive(p)]
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(map(_alive, left)):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {left} did not exit")
        time.sleep(0.1)


class RssSampler:
    """Samples the RSS of this process tree (this process, the JVM,
    Python workers) every ``interval_s`` on a thread and keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)
        self.peak_bytes = 0

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("rss sampler did not stop")


# --- file opens (inotify) ----------------------------------------------------

_IN_OPEN = 0x20
_IN_Q_OVERFLOW = 0x4000
_EVENT = struct.Struct("iIII")


class OpenCounter:
    """Counts opens of each file in one directory with inotify, so a
    ``file://`` fetch shows how often each item was read. ``overflowed``
    is set if the kernel dropped events; the counts are then a floor.
    The kernel merges an event into an identical one still unread, so
    back-to-back opens of one file count once; a fetch pass opens every
    other item in between, so passes are counted apart."""

    def __init__(self, directory: str):
        self._libc = ctypes.CDLL(ctypes.util.find_library("c"), use_errno=True)
        self._fd = self._libc.inotify_init1(os.O_CLOEXEC | os.O_NONBLOCK)
        if self._fd < 0:
            raise OSError(ctypes.get_errno(), "inotify_init1")
        if self._libc.inotify_add_watch(self._fd, directory.encode(), _IN_OPEN) < 0:
            os.close(self._fd)
            raise OSError(ctypes.get_errno(), f"inotify_add_watch {directory}")
        self.opens: Counter[str] = Counter()
        self.overflowed = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="inotify", daemon=True)

    def _drain(self) -> None:
        while True:
            try:
                buf = os.read(self._fd, 1 << 20)
            except BlockingIOError:
                return
            off = 0
            while off < len(buf):
                _, mask, _, size = _EVENT.unpack_from(buf, off)
                if mask & _IN_Q_OVERFLOW:
                    self.overflowed = True
                name = buf[off + _EVENT.size: off + _EVENT.size + size]
                if mask & _IN_OPEN and size:
                    self.opens[name.rstrip(b"\0").decode()] += 1
                off += _EVENT.size + size

    def _run(self) -> None:
        while not self._stop.is_set():
            select.select([self._fd], [], [], 0.05)
            self._drain()

    def __enter__(self) -> "OpenCounter":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("inotify reader did not stop")
        self._drain()
        os.close(self._fd)


# --- Spark stage metrics -------------------------------------------------------

def stage_metrics(spark, groups: list[str]) -> dict[str, float]:
    """Totals over every stage of the jobs labelled with any of
    ``groups`` by ``setJobGroup``, read from the JVM status store
    (works with the UI disabled). Skipped stages count as stages but
    add no work."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": len(stages), "task_s": 0.0,
           "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    for s in stages:
        try:
            data = store.lastStageAttempt(s)
        except Py4JJavaError:  # stage evicted from the store or never run
            continue
        out["task_s"] += data.executorRunTime() / 1000.0
        out["gc_s"] += data.jvmGcTime() / 1000.0
        out["shuffle_write_bytes"] += data.shuffleWriteBytes()
        out["spill_bytes"] += data.memoryBytesSpilled() + data.diskBytesSpilled()
    return out


# --- parquet layout --------------------------------------------------------------

_BBOX_COLS = ("bbox_xmin", "bbox_ymin", "bbox_xmax", "bbox_ymax")


class Layout:
    """Footer statistics of a GeoParquet month: per row group, the
    min/max of each hoisted bbox column, used to count what a bbox
    query must touch after min/max pruning."""

    def __init__(self, paths: list[str]):
        self.paths = sorted(paths)
        self.rows_per_file: list[int] = []
        groups = []  # (file index, xmin_min, ymin_min, xmax_max, ymax_max)
        for i, p in enumerate(self.paths):
            meta = pq.ParquetFile(p).metadata
            self.rows_per_file.append(meta.num_rows)
            names = [meta.schema.column(c).name for c in range(meta.num_columns)]
            idx = [names.index(c) for c in _BBOX_COLS]
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                st = [rg.column(k).statistics for k in idx]
                groups.append((i, st[0].min, st[1].min, st[2].max, st[3].max))
        self.groups = np.array(groups, dtype=np.float64).reshape(-1, 5)

    @property
    def n_row_groups(self) -> int:
        return len(self.groups)

    def touched(self, bbox: tuple[float, float, float, float]) -> tuple[float, float]:
        """(share of files, share of row groups) whose footer min/max
        cannot rule out an item intersecting ``bbox``."""
        w, s, e, n = bbox
        g = self.groups
        hit = (g[:, 1] <= e) & (g[:, 3] >= w) & (g[:, 2] <= n) & (g[:, 4] >= s)
        files = len(set(g[hit, 0].astype(int)))
        return files / len(self.paths), hit.sum() / len(g)
