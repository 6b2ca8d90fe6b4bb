"""Measurement helpers that need no engine: percentiles, the streaming
checkpoint logs, and process-tree sampling from ``/proc``."""

from __future__ import annotations

import bisect
import glob
import json
import math
import os
import sys
import threading
import time

MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolation percentile, ``q`` in [0, 1]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values: list[float], q: float) -> float:
    """``percentile`` that refuses a tail with fewer than ``MIN_BEYOND``
    samples beyond it."""
    beyond = math.floor(len(values) * (1.0 - q) + 1e-9)
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{q * 100:g} of {len(values)} samples has {beyond} beyond it; "
            f"need at least {MIN_BEYOND}"
        )
    return percentile(values, q)


# ---------------------------------------------------------------------------
# Streaming checkpoint logs
#
# <ckpt>/sources/0/<n>[.compact]: "v1" then one JSON entry per file,
#     {"path": "file:/...", "timestamp": <mtime ms>, "batchId": <n>}, where
#     <n> is the FILE SOURCE's own log offset, not the micro-batch id: it
#     only advances when new files are found, so no-data batches make the
#     two drift apart. Compaction folds earlier entries into <n>.compact.
# <ckpt>/offsets/<id>: "v1", the offset-log metadata JSON
#     ({"batchWatermarkMs": ..., "batchTimestampMs": ...}), then one line
#     per source: micro-batch <id> reads source offsets up to and including
#     that line's {"logOffset": <n>}.
# <ckpt>/commits/<id>: written once batch <id> is committed; its mtime is
#     the commit time.
# ---------------------------------------------------------------------------


def _ids(directory: str) -> list[str]:
    try:
        return [n for n in os.listdir(directory) if not n.startswith(".")]
    except FileNotFoundError:
        return []


def _offset_log(ckpt: str) -> dict[int, list[str]]:
    """Micro-batch id -> the lines of its offset-log entry."""
    out = {}
    d = os.path.join(ckpt, "offsets")
    for name in _ids(d):
        if name.isdigit():
            with open(os.path.join(d, name)) as f:
                out[int(name)] = f.read().splitlines()
    return out


def file_batches(ckpt: str) -> dict[str, int]:
    """Source file base name -> the micro-batch that read it."""
    log_offset: dict[str, int] = {}
    src = os.path.join(ckpt, "sources", "0")
    for name in _ids(src):
        try:
            with open(os.path.join(src, name)) as f:
                lines = f.read().splitlines()
        except FileNotFoundError:  # compaction removed it meanwhile
            continue
        for line in lines[1:]:
            if line.strip():
                entry = json.loads(line)
                log_offset[os.path.basename(entry["path"])] = int(entry["batchId"])
    # micro-batch b reads source offsets (end of b-1, end of b]
    ends = sorted(
        (int(json.loads(lines[2])["logOffset"]), b)
        for b, lines in _offset_log(ckpt).items()
        if len(lines) > 2 and lines[2].strip() not in ("", "-")
    )
    out = {}
    for name, n in log_offset.items():
        i = bisect.bisect_left(ends, (n, -1))
        if i < len(ends):
            out[name] = ends[i][1]
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Batch id -> commit time (epoch seconds, the commit file's mtime)."""
    out = {}
    d = os.path.join(ckpt, "commits")
    for name in _ids(d):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e9
    return out


def file_commit_times(ckpt: str) -> dict[str, float]:
    """Source file base name -> commit time of the batch that read it
    (files in uncommitted batches are absent)."""
    commits = commit_times(ckpt)
    return {
        name: commits[b] for name, b in file_batches(ckpt).items() if b in commits
    }


def file_latencies(ckpt: str, due: dict[str, float]) -> dict[str, float | None]:
    """Per released file: its batch's commit time minus its due time;
    ``None`` for a file that was never committed."""
    done = file_commit_times(ckpt)
    return {name: (done[name] - t if name in done else None) for name, t in due.items()}


# ---------------------------------------------------------------------------
# /proc sampling
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, int] | None:
    """(ppid, cpu seconds, rss bytes) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    return int(fields[1]), (int(fields[11]) + int(fields[12])) / _TICK, int(fields[21]) * _PAGE


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return ""


def _tree(root: int, exclude: set[int]) -> tuple[list[int], dict[int, tuple[int, float, int]]]:
    """Pids of ``root`` and its descendants, leaving out ``exclude`` pids
    and theirs, with the ``_stat`` of every process."""
    stats = {}
    for entry in glob.glob("/proc/[0-9]*"):
        pid = int(entry[6:])
        st = _stat(pid)
        if st is not None:
            stats[pid] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude or pid not in stats:
            continue
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree, stats


class TreeSampler:
    """Samples the RSS of a process tree and the CPU time of its Python
    workers on a background thread.

    ``exclude`` pids (and their descendants) are left out, so the load
    generator does not count against the engine.
    """

    def __init__(self, root: int, exclude: set[int] | None = None, period: float = 0.1):
        self.root = root
        self.exclude = set(exclude or ())
        self.period = period
        self.peak_rss = 0
        self.worker_cpu: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._cmd: dict[int, str] = {}

    def start(self) -> "TreeSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        tree, stats = _tree(self.root, self.exclude)
        self.peak_rss = max(self.peak_rss, sum(stats[p][2] for p in tree))
        for pid in tree:
            if pid not in self._cmd:
                self._cmd[pid] = _cmdline(pid)
            if "pyspark.daemon" in self._cmd[pid] or "pyspark.worker" in self._cmd[pid]:
                self.worker_cpu[pid] = max(self.worker_cpu.get(pid, 0.0), stats[pid][1])

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def worker_cpu_since(self, before: dict[int, float]) -> float:
        return sum(c - before.get(p, 0.0) for p, c in self.worker_cpu.items())


class CpuClock:
    """CPU seconds (user + system) a process tree has used, reaped children
    included, sampled every ``PERIOD`` seconds on a background thread so
    that the CPU used between two wall-clock instants can be read after
    the fact (``between``).

    The tree is re-walked from ``/proc`` every ``REFRESH`` seconds; in
    between only the stat files of its known members are read. A member
    that exits hands its CPU time on to its parent's reaped-children
    count, so the total does not drop. ``exclude`` pids (and their
    descendants) are left out.
    """

    PERIOD = 0.05
    REFRESH = 1.0

    def __init__(self, root: int, exclude: set[int] | None = None):
        self.root = root
        self.exclude = set(exclude or ())
        self.times: list[float] = []
        self.cpu: list[float] = []
        self._pids: list[int] = []
        self._walked = -math.inf
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "CpuClock":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def read(self) -> float:
        """CPU seconds of the tree now."""
        now = time.monotonic()
        if now - self._walked >= self.REFRESH:
            self._pids, _ = _tree(self.root, self.exclude)
            self._walked = now
        return sum(_tree_cpu(pid) for pid in self._pids)

    def _loop(self) -> None:
        while not self._stop.is_set():
            t, c = time.time(), self.read()
            self.cpu.append(c)  # first, so cpu is never shorter than times
            self.times.append(t)
            self._stop.wait(self.PERIOD)

    def at(self, t: float) -> float:
        """CPU seconds at wall-clock time ``t``, interpolated between the
        samples around it."""
        i = bisect.bisect_left(self.times, t)
        if i == 0 or i == len(self.times):
            raise ValueError(f"no CPU samples around {t}")
        t0, t1 = self.times[i - 1], self.times[i]
        c0, c1 = self.cpu[i - 1], self.cpu[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0) if t1 > t0 else c1

    def between(self, t0: float, t1: float) -> float:
        return self.at(t1) - self.at(t0)


def _tree_cpu(pid: int) -> float:
    """User + system CPU seconds of one process and its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        return 0.0
    fields = raw[raw.rindex(")") + 2 :].split()
    return sum(int(x) for x in fields[11:15]) / _TICK


_T0 = time.monotonic()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"perfbench {time.monotonic() - _T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def wait_for(pred, timeout: float, period: float = 0.2) -> bool:
    """Poll ``pred`` until it returns true or ``timeout`` seconds pass."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(period)
    return bool(pred())
