"""Measurement plumbing for the benchmark: spans, Spark event logs,
process memory and percentiles.

Nothing here imports pyspark, so the pieces are unit-testable on their
own (see test_spans.py).
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default rule), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def timed(fn) -> float:
    """Wall seconds of ``fn()``."""
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


class Tracer:
    """In-memory spans: name, start, end, parent, request id.

    A span opened while another is open becomes its child. Spans of
    one measured operation share the operation's request id. When
    ``enabled`` is false every call is a no-op, so untraced runs pay
    nothing but the context-manager call. ``on_change`` is called with
    the innermost open span whenever that changes: the new span when
    one opens, its parent (None at top level) when it closes. The
    runner uses it to tag Spark jobs with the span that submitted them."""

    def __init__(self, enabled: bool, on_change=None):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._on_change = on_change

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "request": request, "start": None, "end": None}
        self.spans.append(rec)
        if self._on_change is not None:
            self._on_change(rec)
        rec["start"] = time.perf_counter()
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._on_change is not None:
                self._on_change(self.spans[parent] if parent is not None else None)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part its direct children cover.

    Children of one span never overlap here (one driver thread opens
    them in sequence), so the covered part is the sum of their
    durations, clipped to the parent's interval."""
    out = {}
    for s in spans:
        d = s["end"] - s["start"]
        covered = 0.0
        for c in spans:
            if c["parent"] == s["id"]:
                covered += max(0.0, min(c["end"], s["end"]) - max(c["start"], s["start"]))
        out[s["id"]] = d - covered
    return out


# ----------------------------------------------------------- event logs

def _sum_task_metrics(tm: dict) -> dict:
    sw = tm.get("Shuffle Write Metrics") or {}
    inp = tm.get("Input Metrics") or {}
    return {
        "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0)
        + tm.get("Disk Bytes Spilled", 0),
        "records_read": inp.get("Records Read", 0),
        "tasks": 1,
    }


def event_log_by_group(log_dir: Path) -> dict[str, dict]:
    """Aggregate a Spark event log per job group.

    Returns {group: {"jobs", "cpu_s", "gc_s", "shuffle_write_bytes",
    "spill_bytes", "records_read", "tasks"}}. Jobs submitted outside
    any group land under "". Reads every event file under ``log_dir``
    (one application per run; a rolling log splits it over several
    files, so jobs are mapped to stages before tasks are summed)."""
    events = []
    for f in sorted(log_dir.rglob("*")):
        # skip Hadoop's .crc side files and the rolling log's status marker
        if f.is_file() and not f.name.startswith((".", "appstatus")):
            with f.open() as fh:
                events.extend(json.loads(line) for line in fh)
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(g: str) -> dict:
        return out.setdefault(g, {
            "jobs": 0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "records_read": 0, "tasks": 0,
        })

    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            bucket(g)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
    for ev in events:
        if ev.get("Event") == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            b = bucket(stage_group.get(ev.get("Stage ID"), ""))
            for k, v in _sum_task_metrics(ev["Task Metrics"]).items():
                b[k] += v
    return out


# --------------------------------------------------------------- memory

def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
        return 0


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it (from /proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


class PeakRss:
    """Samples the RSS of a process tree on a thread; use as a context
    manager around the measured phase. ``peak`` is the largest summed
    RSS of the whole tree, ``peak_child`` the largest RSS of any one
    process below the root (for Spark: one Python worker)."""

    def __init__(self, root_pid: int, interval_s: float = 0.2):
        self.root = root_pid
        self.interval = interval_s
        self.peak = 0
        self.peak_child = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = {p: _rss_bytes(p) for p in descendants(self.root)}
            self.peak = max(self.peak, sum(rss.values()))
            self.peak_child = max([self.peak_child] + [
                v for p, v in rss.items() if p != self.root])
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        if self._thread.is_alive():
            raise RuntimeError("RSS sampler did not stop")
        return False
