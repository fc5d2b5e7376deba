"""Measurement helpers: the span tracer, the percentile rule, the resident
memory sampler and readers for Spark's public progress and job status."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager


def tail_percentile(samples: list[float], want: float = 95.0) -> tuple[float, float]:
    """(percentile used, value) for the tail of ``samples``.

    Nearest-rank percentile ``want``, lowered until at least ten samples lie
    beyond it; never below the median. With fewer than 20 samples no
    percentile has ten beyond it and the median is returned.
    """
    if not samples:
        raise ValueError("no samples")
    xs = sorted(samples)
    n = len(xs)
    rank = min(math.ceil(want / 100.0 * n), n - 10)
    if rank <= math.ceil(n / 2):
        return 50.0, statistics.median(xs)
    return 100.0 * rank / n, xs[rank - 1]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def host_probe_s(reps: int = 3) -> float:
    """Median seconds of a fixed pure-Python loop: a yardstick of the host's
    speed when the run was made, so that a shift between sets of runs can be
    told apart from a change in the program."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class Tracer:
    """Spans (name, start, end, parent, request id), kept in memory and
    written once at the end. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, req: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": stack[-1]["id"] if stack else None,
               "req": req if req is not None else (stack[-1]["req"] if stack else None)}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def add(self, name: str, start: float, end: float, req: str | None = None,
            parent: int | None = None) -> int:
        """Record a span measured elsewhere (e.g. from query progress)."""
        if not self.enabled:
            return -1
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, "req": req})
        return sid

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({**extra, "spans": self.spans}, fh)


# --------------------------------------------------------------------------
# Resident memory of the Spark driver JVM and its Python workers (/proc)
# --------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def tree_rss_bytes(root_pid: int) -> int:
    """Summed VmRSS of all descendants of ``root_pid`` (for the benchmark
    process: the Spark driver JVM it launched and that JVM's Python
    workers)."""
    total = 0
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Samples ``tree_rss_bytes`` every ``interval`` seconds in a thread and
    keeps the peak."""

    def __init__(self, root_pid: int, interval: float = 0.25):
        self.root_pid, self.interval = root_pid, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root_pid))


# --------------------------------------------------------------------------
# Spark's public progress and status APIs
# --------------------------------------------------------------------------

def progress(query) -> list[dict]:
    """``StreamingQueryProgress`` records of a query as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def tasks_of_group(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under job group ``group`` (statusTracker)."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return len(jobs), tasks
