"""Spans recorded from outside the program, and Spark's event log per span.

A :class:`Tracer` records one span per call into a layer's public
function: name, start, end and parent.  While a span is open its id is the
Spark job group (``spark.jobGroup.id``), so every job, stage and task in
the event log can be charged to the innermost span that started it.

Tracing never changes what the program computes.  It wraps functions by
rebinding module attributes (:meth:`Tracer.wrap`); :meth:`Tracer.restore`
puts the originals back.  The untraced run uses a disabled tracer, whose
spans only keep the pass boundaries.
"""

from __future__ import annotations

import functools
import json
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from pathlib import Path

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        """Time a block; when enabled, record it and make it the job group."""
        rec = {"id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["dur"] = time.perf_counter() - t0
            return
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.sc.setLocalProperty(GROUP_KEY, f"span-{rec['id']}")
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            self.sc.setLocalProperty(
                GROUP_KEY, f"span-{self._stack[-1]}" if self._stack else None
            )

    def wrap(self, owner, attr: str, span_name: str, on_result=None) -> None:
        """Rebind ``owner.attr`` to a version that runs inside a span.

        ``on_result(rec, result)`` may add counters to the span record.
        """
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(span_name) as rec:
                result = original(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, result)
                return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def count_calls(self, owner, attr: str, counter: str) -> None:
        """Rebind ``owner.attr`` to a version that bumps ``counts[counter]``."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def counted(*args, **kwargs):
            self.counts[counter] += 1
            return original(*args, **kwargs)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, counted)

    def after_operation(self) -> None:
        """Record on the open pass span how many RDDs are still persisted."""
        if self.enabled and self._stack:
            self.spans[self._stack[0]]["leaked_rdds"] = self.sc._jsc.getPersistentRDDs().size()

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


def children(spans: list[dict]) -> dict[int, list[dict]]:
    kids: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)
    return kids


def subtree(span: dict, kids: dict[int, list[dict]]) -> list[dict]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def read_event_log(log_dir: Path) -> dict[str, dict]:
    """Per job group: jobs with their intervals, stages run, and task sums.

    The log must be uncompressed (``spark.eventLog.compress=false``) and
    complete, i.e. read after ``SparkContext.stop()``.
    """
    files = [p for p in log_dir.iterdir() if p.is_file() and not p.name.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": {}, "stages": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0,
                 "shuffle_write": 0, "shuffle_read": 0, "spill": 0}
    )
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    with files[0].open(encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get(GROUP_KEY) or "none"
                job_group[ev["Job ID"]] = g
                groups[g]["jobs"][ev["Job ID"]] = [ev["Submission Time"], None]
            elif kind == "SparkListenerJobEnd":
                g = job_group.get(ev["Job ID"], "none")
                groups[g]["jobs"].setdefault(ev["Job ID"], [None, None])[1] = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get(GROUP_KEY) or "none"
                stage_group[ev["Stage Info"]["Stage ID"]] = g
                groups[g]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(ev["Stage ID"], "none")]
                m = ev.get("Task Metrics") or {}
                g["tasks"] += 1
                g["run_ms"] += m.get("Executor Run Time", 0)
                g["gc_ms"] += m.get("JVM GC Time", 0)
                g["spill"] += m.get("Disk Bytes Spilled", 0)
                w = m.get("Shuffle Write Metrics") or {}
                g["shuffle_write"] += w.get("Shuffle Bytes Written", 0)
                r = m.get("Shuffle Read Metrics") or {}
                g["shuffle_read"] += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
    return groups


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def engine_totals(spans: list[dict], groups: dict[str, dict]) -> dict:
    """Sum the event-log records of ``spans`` (a span and its descendants).

    ``driver_gap_s`` is the wall time of the first span minus the union of
    the job intervals inside it: driver-side planning and round trips.
    """
    tot = Counter()
    intervals = []
    root = spans[0]
    lo, hi = root["start"] * 1000, root["end"] * 1000
    for s in spans:
        g = groups.get(f"span-{s['id']}")
        if g is None:
            continue
        tot["jobs"] += len(g["jobs"])
        for key in ("stages", "tasks", "run_ms", "gc_ms", "shuffle_write", "shuffle_read", "spill"):
            tot[key] += g[key]
        for start, end in g["jobs"].values():
            if start is not None and end is not None:
                intervals.append((max(start, lo), min(end, hi)))
    mb = 1024 * 1024
    return {
        "jobs": tot["jobs"],
        "stages": tot["stages"],
        "tasks": tot["tasks"],
        "executor_run_s": tot["run_ms"] / 1000,
        "gc_s": tot["gc_ms"] / 1000,
        "shuffle_write_mb": tot["shuffle_write"] / mb,
        "shuffle_read_mb": tot["shuffle_read"] / mb,
        "spill_mb": tot["spill"] / mb,
        "driver_gap_s": max(root["dur"] - _union_ms(intervals) / 1000, 0.0),
    }
