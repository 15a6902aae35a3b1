"""Spans at layer boundaries, self time, and Spark task metrics per span.

A span records name, start, end and parent. The parent is the innermost open
span on the calling thread, or the tracer's current root for threads that
have none (the pipeline's merge tail runs in ``ThreadPoolExecutor`` threads).
Each span also sets the calling thread's Spark job group to its own id, so
the task metrics of the jobs it submits can be folded per span from the
session's event log (``fold_event_log``).
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "pb-"


class Tracer:
    def __init__(self, sc=None, clock=time.perf_counter) -> None:
        self.spans: list[dict] = []
        self._sc = sc  # SparkContext, or None to skip job groups
        self._clock = clock
        self._local = threading.local()
        self._lock = threading.Lock()
        self._roots: list[int] = []
        self._next_id = 0

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        """Time the body as one span; yields the span dict for attributes."""
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else (self._roots[-1] if self._roots else None)
        rec = {"id": sid, "name": name, "parent": parent,
               "thread": threading.get_ident(), "attrs": dict(attrs)}
        prior_group = None
        if self._sc is not None:
            prior_group = self._sc.getLocalProperty(GROUP_KEY)
            self._sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sid}")
        stack.append(sid)
        if root:
            self._roots.append(sid)
        rec["start"] = self._clock()
        try:
            yield rec
        finally:
            rec["end"] = self._clock()
            stack.pop()
            if root:
                self._roots.remove(sid)
            if self._sc is not None:
                self._sc.setLocalProperty(GROUP_KEY, prior_group)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn, on_exit=None):
        """``fn`` wrapped in a span; ``on_exit(rec, args, kwargs, result)``
        may add attributes after the call returns."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_exit is not None:
                    on_exit(rec, args, kwargs, out)
                return out

        return wrapper


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals,
    children on any thread, clipped to the parent's own interval."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is None:
            continue
        lo, hi = max(s["start"], p["start"]), min(s["end"], p["end"])
        if hi > lo:
            children.setdefault(p["id"], []).append((lo, hi))
    return {
        s["id"]: (s["end"] - s["start"]) - union_length(children.get(s["id"], []))
        for s in spans
    }


# ---------------------------------------------------------------------------
# event-log fold
# ---------------------------------------------------------------------------

def _new_agg() -> dict:
    return {"tasks": 0, "run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "durations": []}


def fold_event_log(lines) -> dict[str, dict]:
    """Job group -> task metrics, from Spark event-log JSON lines.

    Jobs map to groups through their ``spark.jobGroup.id`` property and
    stages to jobs through the job-start stage list; task-end events then
    fold into their stage's group. Jobs without a group fold under ``""``.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"), "")
            agg = out.setdefault(group, _new_agg())
            tm = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            agg["tasks"] += 1
            agg["run_s"] += tm.get("Executor Run Time", 0) / 1e3
            agg["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            agg["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            agg["shuffle_write_bytes"] += (
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            )
            agg["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                   + tm.get("Disk Bytes Spilled", 0))
            if "Finish Time" in info and "Launch Time" in info:
                agg["durations"].append(
                    (info["Finish Time"] - info["Launch Time"]) / 1e3)
    return out


def merge_aggs(aggs) -> dict:
    """Sum task aggregates; ``task_skew`` is max / median task duration."""
    out = _new_agg()
    for a in aggs:
        for k in ("tasks", "run_s", "executor_cpu_s", "gc_s",
                  "shuffle_write_bytes", "spill_bytes"):
            out[k] += a[k]
        out["durations"].extend(a["durations"])
    d = out.pop("durations")
    med = statistics.median(d) if d else 0.0
    out["task_skew"] = (max(d) / med) if med > 0 else (1.0 if d else 0.0)
    return out


def span_task_metrics(spans: list[dict], folded: dict[str, dict]) -> dict[int, dict]:
    """Span id -> summed task metrics of the jobs its own group submitted."""
    return {
        s["id"]: merge_aggs([folded[f"{GROUP_PREFIX}{s['id']}"]])
        for s in spans if f"{GROUP_PREFIX}{s['id']}" in folded
    }


def read_event_log(path: str) -> dict[str, dict]:
    with open(path, encoding="utf-8") as fh:
        return fold_event_log(fh)
