"""Spans around layer calls, the Spark event-log folder, and the percentile
helpers the benchmark reports with.

A span is opened by the benchmark around a call into one of the program's
layers.  While it is open, ``SparkContext.setJobGroup`` tags every job the
call submits with the span's id, so the event log can later be folded back
onto spans.  Streaming queries tag their own jobs with the query's
``runId``; :meth:`Tracer.claim_group` maps that id onto the span that ran
the query.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

#: engine counters folded per job group from TaskEnd events
COUNTERS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "tasks",
    "jobs",
)


def median(values):
    return statistics.median(values) if values else 0.0


def tail_percentile(values, min_beyond: int = 10):
    """The highest whole percentile with at least ``min_beyond`` samples
    beyond it, by the nearest-rank rule: ``(pct, value, n)``, or ``None``
    when there are not more than ``min_beyond`` samples."""
    n = len(values)
    if n <= min_beyond:
        return None
    pct = (100 * (n - min_beyond)) // n
    rank = max(1, math.ceil(pct * n / 100))
    return pct, sorted(values)[rank - 1], n


class Tracer:
    """In-memory spans: name, start, end, parent, run id. With ``sc=None``
    the spans are still recorded but no job group is set."""

    def __init__(self, sc=None, run_id: str = ""):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self.groups: dict[str, int] = {}  # job group id -> span id
        self._stack: list[int] = []

    def _set_group(self, sid):
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self.groups[f"span-{sid}"] = sid
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def claim_group(self, group_id: str, rec: dict) -> None:
        """Attribute jobs tagged ``group_id`` (a streaming runId) to ``rec``."""
        self.groups[group_id] = rec["id"]

    def durations(self, name: str) -> list[float]:
        """Durations of the ``name`` spans not nested in another ``name`` span."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name
            and (s["parent"] is None or self.spans[s["parent"]]["name"] != name)
        ]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its (sequential) children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")


def _walk(node):
    yield node
    for c in node.get("children", ()):
        yield from _walk(c)


def plan_counts(plan: dict) -> dict:
    """Exchange and file-scan node counts of one executed plan tree."""
    names = [n.get("nodeName", "") for n in _walk(plan)]
    return {
        "exchanges": sum(n in ("Exchange", "BroadcastExchange") for n in names),
        "scans": sum(n.startswith("Scan ") for n in names),
    }


class EventLog:
    """Counters folded from one uncompressed, unrolled Spark event log, keyed
    by job group: ``COUNTERS`` plus ``input_bytes``, per-stage task
    durations (for skew), and the SQL executions the group's jobs ran."""

    def __init__(self, lines):
        self.groups = defaultdict(lambda: defaultdict(float))
        self.stage_tasks = defaultdict(list)  # stage id -> task durations (ms)
        self.group_stages = defaultdict(set)
        self.group_execs = defaultdict(set)
        self.plans: dict[int, dict] = {}
        stage_group: dict[int, str] = {}
        for line in lines:
            e = json.loads(line)
            ev = e.get("Event", "")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                self.groups[g]["jobs"] += 1
                ex = props.get("spark.sql.execution.id")
                if ex is not None:
                    self.group_execs[g].add(int(ex))
                for sid in e.get("Stage IDs", ()):
                    stage_group.setdefault(sid, g)
            elif ev == "SparkListenerTaskEnd":
                g = stage_group.get(e["Stage ID"], "")
                m = e.get("Task Metrics") or {}
                info = e.get("Task Info") or {}
                c = self.groups[g]
                c["tasks"] += 1
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                r = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += r.get("Remote Bytes Read", 0) + r.get(
                    "Local Bytes Read", 0
                )
                w = m.get("Shuffle Write Metrics") or {}
                c["shuffle_write_bytes"] += w.get("Shuffle Bytes Written", 0)
                c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                self.group_stages[g].add(e["Stage ID"])
                self.stage_tasks[e["Stage ID"]].append(
                    info.get("Finish Time", 0) - info.get("Launch Time", 0)
                )
            elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                self.plans[e["executionId"]] = e["sparkPlanInfo"]  # latest wins

    @classmethod
    def read(cls, path: str) -> "EventLog":
        with open(path) as f:
            return cls(f)

    def fold(self, group_ids) -> dict:
        """Sum of the counters, plan-node counts and worst stage skew over
        the given job groups."""
        out = {k: 0.0 for k in COUNTERS}
        out.update(input_bytes=0.0, exchanges=0, scans=0, task_skew=0.0)
        for g in group_ids:
            for k, v in self.groups.get(g, {}).items():
                out[k] += v
            for ex in self.group_execs.get(g, ()):
                pc = plan_counts(self.plans.get(ex, {}))
                out["exchanges"] += pc["exchanges"]
                out["scans"] += pc["scans"]
            for sid in self.group_stages.get(g, ()):
                d = self.stage_tasks[sid]
                if len(d) >= 2:
                    out["task_skew"] = max(
                        out["task_skew"], max(d) / max(statistics.median(d), 1)
                    )
        return out
