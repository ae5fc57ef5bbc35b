"""In-memory spans, interval arithmetic and a peak-RSS sampler.

Spans are recorded by the benchmark's own code around its calls into the
package (set-up steps, each op, each op's verification).  Spark job,
stage and task spans are added afterwards from the event log and are
parented to an op through the job group the benchmark sets for it.
Nothing is written until the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Collects spans as dicts: name, start/end in epoch seconds, parent.

    A disabled tracer still times the block (callers need the durations
    for their metrics) but keeps nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        rec = {"name": name, "parent": parent, **attrs}
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            if self.enabled:
                self.spans.append(rec)

    def add(self, rec: dict) -> None:
        if self.enabled:
            self.spans.append(rec)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _merge(intervals):
    out = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def uncovered_len(inner, outer) -> float:
    """Length of union(inner) that lies outside union(outer)."""
    outer_m = _merge(outer)
    total = 0.0
    for a, b in _merge(inner):
        covered = sum(
            max(0.0, min(b, ob) - max(a, oa)) for oa, ob in outer_m
        )
        total += (b - a) - covered
    return total


def op_self_times(op_start, op_end, jobs, stages, tasks) -> dict:
    """Split one op's wall time by its deepest active span.

    At each instant of the op, the time goes to tasks if any task ran,
    else to stage scheduling if a stage was open, else to job scheduling
    if a job was open, else to the driver (plan building in the package
    plus driver-serial work such as coverage collects and broadcast
    builds).  The four parts sum to the op wall by construction; the
    residual is child time that its parent does not cover (tasks outside
    any stage, stages outside any job, spans outside the op window),
    which is where the driver clock and the event-log clock disagree."""
    wall = op_end - op_start
    t = union_len(tasks, op_start, op_end)
    st = union_len(stages + tasks, op_start, op_end)
    jb = union_len(jobs + stages + tasks, op_start, op_end)
    outside = sum(
        max(0.0, b - a) - union_len([(a, b)], op_start, op_end)
        for a, b in jobs + stages + tasks
    )
    residual = (
        uncovered_len(tasks, stages) + uncovered_len(stages, jobs) + outside
    )
    return {
        "wall": wall,
        "task_wall": t,
        "stage_self": st - t,
        "job_self": jb - st,
        "driver_self": wall - jb,
        "residual": residual,
    }


def _process_tree_rss_kb(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    total = 0
    stack = [root_pid]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page_kb
        except OSError:
            pass
        stack.extend(children.get(pid, ()))
    return total


class PeakRss:
    """Samples the resident memory of this process and all its
    descendants (the driver JVM and the Python workers) and keeps the
    peak of the sum."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, _process_tree_rss_kb(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
