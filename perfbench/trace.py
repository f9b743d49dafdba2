"""Span tracing for the traced benchmark run (``--trace 1``).

Spans are recorded only from the benchmark's files, around calls into the
engine's public entry points: name, start, end and parent, kept in memory
and written out when the run ends. Each span also sets the Spark job group,
so the event log attributes every job, stage and task to the innermost open
span; ``spark_counts`` reads those back after the session has stopped.

Laziness: a span around a call that only builds a plan times plan
construction. Execution time is attributed through spans around actions and
through the UDF accumulators of ``timed_udf``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time

from pyspark.sql import functions as F

GROUP_PREFIX = "perfbench-span-"

# SparkListenerTaskEnd "Task Metrics" fields summed per span: name -> paths
_TASK_FIELDS = {
    "executor_run_ms": [("Executor Run Time",)],
    "gc_ms": [("JVM GC Time",)],
    "spill_bytes": [("Memory Bytes Spilled",), ("Disk Bytes Spilled",)],
    "shuffle_write_bytes": [("Shuffle Write Metrics", "Shuffle Bytes Written")],
}


class Tracer:
    """In-memory span recorder. One per traced run; single-threaded driver."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(GROUP_PREFIX + str(sid), name)
        rec["start"] = time.perf_counter()
        self.self_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(GROUP_PREFIX + str(self._stack[-1]), self.spans[self._stack[-1]]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.self_s += time.perf_counter() - rec["end"]

    def wrap(self, owner, attr: str, namer, action=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span named
        ``namer(*args, **kwargs)``; ``action(result)`` runs inside the span
        too (the benchmark's own action on a lazy result)."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(namer(*args, **kwargs)):
                out = orig(*args, **kwargs)
                if action is not None:
                    out = action(out)
                return out

        setattr(owner, attr, traced)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            cur = todo.pop()
            out.add(cur)
            todo.extend(s["id"] for s in self.spans if s["parent"] == cur)
        return out

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        return (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in self.children(sid))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump(rows, f)


def timed_udf(udf, seconds_acc, rows_acc):
    """A pandas UDF computing exactly what ``udf`` computes (same ``.func``,
    same return type) that adds each batch's Python time and row count to
    two Spark accumulators."""
    fn = udf.func

    @functools.wraps(fn)
    def timed(*cols):
        t0 = time.perf_counter()
        out = fn(*cols)
        seconds_acc.add(time.perf_counter() - t0)
        rows_acc.add(len(cols[0]))
        return out

    return F.pandas_udf(timed, udf.returnType)


def _field(metrics: dict, path: tuple) -> float:
    cur = metrics
    for key in path:
        if not isinstance(cur, dict) or key not in cur:
            return 0.0
        cur = cur[key]
    return float(cur)


def spark_counts(event_dir: str) -> dict[int, dict]:
    """Per-span Spark counts from an uncompressed event log: jobs, stages
    (submitted, so skipped stages are not counted), tasks and the task
    metrics in ``_TASK_FIELDS``. Keyed by span id; jobs outside any span
    are dropped."""
    per: dict[int, dict] = {}
    stage_span: dict[tuple[int, int], int] = {}

    def span_of(props: dict | None) -> int | None:
        group = (props or {}).get("spark.jobGroup.id") or ""
        return int(group[len(GROUP_PREFIX):]) if group.startswith(GROUP_PREFIX) else None

    def rec(sid: int) -> dict:
        return per.setdefault(sid, dict.fromkeys(("jobs", "stages", "tasks", *_TASK_FIELDS), 0.0))

    for path in sorted(glob.glob(os.path.join(event_dir, "**"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = span_of(ev.get("Properties"))
                    if sid is not None:
                        rec(sid)["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = span_of(ev.get("Properties"))
                    info = ev["Stage Info"]
                    if sid is not None:
                        stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = sid
                        rec(sid)["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    if sid is None:
                        continue
                    r = rec(sid)
                    r["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    for name, paths in _TASK_FIELDS.items():
                        r[name] += sum(_field(tm, p) for p in paths)
    return per


def inclusive(tracer: Tracer, counts: dict[int, dict], sid: int) -> dict:
    """A span's Spark counts including every span nested inside it."""
    out: dict[str, float] = {}
    for d in tracer.descendants(sid):
        for k, v in counts.get(d, {}).items():
            out[k] = out.get(k, 0.0) + v
    return out
