"""Tracing for the traced run: in-memory spans, Spark event-log
attribution and Catalyst phase times.

A span is one call the benchmark makes into a ytspark module (or one
op): name, start, end, parent span and op id. Self time is a span's
duration minus the time of its direct children, so nested layers
(``session.load_tables`` inside ``queries.build``) are not counted
twice. Spark numbers come from the event log the session writes when
``spark.eventLog.enabled`` is set; every job, stage and task is given to
the op whose time window holds its submission. The loop is closed with
one client, so op windows never overlap.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """Records spans when enabled; costs one attribute check when not."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper (process-local;
        callers must wrap before importing modules that bind the name)."""
        fn = getattr(module, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        wrapped.__wrapped__ = fn
        setattr(module, attr, wrapped)

    def self_times(self, ops: set[str]) -> tuple[dict[str, float], dict[str, int]]:
        """Sum of self time and call count per span name, over the
        spans that belong to ``ops``."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        secs: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for i, s in enumerate(self.spans):
            if s["op"] in ops and s["end"] is not None:
                secs[s["name"]] += s["end"] - s["start"] - child[i]
                calls[s["name"]] += 1
        return secs, calls


def read_event_log(event_dir: str) -> list[dict]:
    """Every event of every log file under ``event_dir``, in file order."""
    events = []
    for path in sorted(glob.glob(os.path.join(event_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    pass  # a torn last line of an in-progress log
    return events


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def spark_by_op(events: list[dict], windows: dict[str, tuple[float, float]]) -> dict[str, dict]:
    """Per op: jobs, stages, tasks, stage span (union of stage run
    intervals), summed task run time, shuffle-write and spill bytes."""
    ordered = sorted(windows.items(), key=lambda kv: kv[1][0])

    def owner(ts_ms: float) -> str | None:
        t = ts_ms / 1000.0
        for op, (lo, hi) in ordered:
            if lo <= t <= hi:
                return op
        return None

    out = {
        op: {"jobs": 0, "stages": 0, "tasks": 0, "stage_span_s": 0.0, "task_s": 0.0,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "_iv": []}
        for op in windows
    }
    stage_op: dict[tuple[int, int], str] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            op = owner(e.get("Submission Time", 0))
            if op:
                out[op]["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sub, done = info.get("Submission Time"), info.get("Completion Time")
            op = owner(sub) if sub else None
            if op and done:
                stage_op[(info["Stage ID"], info["Stage Attempt ID"])] = op
                out[op]["stages"] += 1
                out[op]["_iv"].append((sub / 1000.0, done / 1000.0))
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        op = stage_op.get((e["Stage ID"], e["Stage Attempt ID"]))
        if not op:
            continue
        m = e.get("Task Metrics") or {}
        rec = out[op]
        rec["tasks"] += 1
        rec["task_s"] += m.get("Executor Run Time", 0) / 1000.0
        rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        rec["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    for rec in out.values():
        rec["stage_span_s"] = _union_seconds(rec.pop("_iv"))
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning seconds and optimized-plan size of
    the query that produced ``df``, read after its action ran (the
    collect runs under the DataFrame's own QueryExecution)."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    out: dict[str, float] = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    out["plan_chars"] = float(len(qe.optimizedPlan().toString()))
    return out
