"""Spans recorded around the engine's public entry points, and the
arithmetic that turns them plus a Spark event log into per-layer numbers.

A span is one call into a layer: name, start, end, and the span that was
open on the same thread when it began.  Entering a span also
sets the Spark job group of the calling thread to ``<name>#<span id>``,
so every job the layer launches, directly or from a thread it starts
(``pyspark.InheritableThread`` copies the group), is attributed to it in
the event log.  Spans are kept in memory and read after the run.

Definitions (all in seconds unless the name says otherwise):

- ``wall``: end - start, summed over a name's spans.
- ``self``: wall minus the part of the span that its children on the
  same thread cover.  Spans opened on other threads (the background docs
  write) are roots of their own, so the self times of one thread's tree
  add up to its root's wall time.
- ``driver_only``: wall minus the part of the span during which at least
  one task of the span's own jobs was running.
- ``task``/``gc``: executor run time and JVM GC time of the span's tasks.
- ``shuffle_mb``/``spill_mb``: shuffle bytes read + written, and bytes
  spilled to disk, by the span's tasks.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

JOB_GROUP = "spark.jobGroup.id"
SPAN_FIELDS = ("wall_s", "self_s", "driver_only_s", "task_s", "gc_s",
               "shuffle_mb", "spill_mb")


@dataclass
class Span:
    name: str
    sid: int
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Task:
    group: str | None
    launch: float
    finish: float
    run_s: float
    gc_s: float
    shuffle_bytes: int
    spill_bytes: int


class Tracer:
    """Records spans; ``sc`` (a SparkContext) gets the job group set on
    entry and restored on exit.  ``overhead_s`` is the time spent in the
    tracer's own bookkeeping, job-group calls included."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        t0 = time.time()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sp = Span(name, len(self.spans), stack[-1].sid if stack else None, 0.0)
            self.spans.append(sp)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, f"{name}#{sp.sid}")
        stack.append(sp)
        sp.start = time.time()
        self._add_overhead(sp.start - t0)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(JOB_GROUP, prev)
            self._add_overhead(time.time() - sp.end)

    def _add_overhead(self, dt: float) -> None:
        with self._lock:
            self.overhead_s += dt

    def wrap(self, name, fn):
        """``fn`` with every call inside a span called ``name``; ``name``
        may be a function of the call's arguments."""

        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            if label is None:
                return fn(*args, **kwargs)
            with self.span(label):
                return fn(*args, **kwargs)

        return traced


def union_length(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clipped(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> wall minus the union of its children, which ran on the
    same thread."""
    children: dict[int, list] = defaultdict(list)
    for sp in spans:
        if sp.parent is not None:
            children[sp.parent].append(sp)
    out = {}
    for sp in spans:
        kids = [(c.start, c.end) for c in children[sp.sid]]
        out[sp.sid] = (sp.end - sp.start) - union_length(
            _clipped(kids, sp.start, sp.end))
    return out


def group_span_id(group: str | None) -> int | None:
    """The span id a job group names, or None for jobs outside spans."""
    if not group or "#" not in group:
        return None
    tail = group.rsplit("#", 1)[1]
    return int(tail) if tail.isdigit() else None


def layer_table(spans: list[Span], tasks: list[Task]) -> dict[str, dict[str, float]]:
    """Per span name, the SPAN_FIELDS summed over the name's spans."""
    selfs = self_times(spans)
    by_span: dict[int, list[Task]] = defaultdict(list)
    for t in tasks:
        sid = group_span_id(t.group)
        if sid is not None:
            by_span[sid].append(t)
    table: dict[str, dict[str, float]] = {}
    for sp in spans:
        row = table.setdefault(sp.name, dict.fromkeys(SPAN_FIELDS, 0.0))
        own = by_span.get(sp.sid, [])
        busy = union_length(_clipped([(t.launch, t.finish) for t in own],
                                     sp.start, sp.end))
        row["wall_s"] += sp.end - sp.start
        row["self_s"] += selfs[sp.sid]
        row["driver_only_s"] += (sp.end - sp.start) - busy
        row["task_s"] += sum(t.run_s for t in own)
        row["gc_s"] += sum(t.gc_s for t in own)
        row["shuffle_mb"] += sum(t.shuffle_bytes for t in own) / 1e6
        row["spill_mb"] += sum(t.spill_bytes for t in own) / 1e6
    return table


@dataclass
class SqlNode:
    name: str
    desc: str
    metrics: dict[str, tuple[int, str]] = field(default_factory=dict)  # name -> (id, type)
    children: list = field(default_factory=list)


@dataclass
class EventLog:
    tasks: list[Task]
    plans: list[SqlNode]          # every plan version, per SQL execution
    accum: dict[int, int]         # accumulator id -> total value

    def nodes(self):
        """Every plan node of every execution, deduplicated by the
        accumulator ids it reads (AQE re-sends unchanged subtrees)."""
        seen, stack = set(), list(self.plans)
        while stack:
            n = stack.pop()
            stack.extend(n.children)
            key = (n.name, tuple(sorted(n.metrics.values())))
            if n.metrics and key not in seen:
                seen.add(key)
                yield n

    @staticmethod
    def descendants(node: SqlNode):
        stack = list(node.children)
        while stack:
            n = stack.pop()
            stack.extend(n.children)
            yield n

    def value(self, node: SqlNode, metric: str) -> int:
        acc = node.metrics.get(metric)
        return self.accum.get(acc[0], 0) if acc is not None else 0

    def seconds(self, node: SqlNode, metric: str) -> float:
        """A timing metric in seconds (Spark keeps ms or ns by type)."""
        acc = node.metrics.get(metric)
        if acc is None:
            return 0.0
        return self.value(node, metric) / (1e9 if acc[1] == "nsTiming" else 1e3)


def _plan(info: dict) -> SqlNode:
    return SqlNode(
        info.get("nodeName", ""),
        info.get("simpleString", ""),
        {m["name"]: (m["accumulatorId"], m.get("metricType", "")) for m in info.get("metrics", [])},
        [_plan(c) for c in info.get("children", [])],
    )


def parse_event_log(lines) -> EventLog:
    """Tasks with their job group, and SQL plan metrics, from the JSON
    lines of a Spark event log."""
    stage_group: dict[int, str | None] = {}
    tasks: list[Task] = []
    plans: list[SqlNode] = []
    accum: dict[int, int] = defaultdict(int)
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(JOB_GROUP)
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            rd, wr = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            tasks.append(Task(
                stage_group.get(ev["Stage ID"]),
                info["Launch Time"] / 1000.0,
                info["Finish Time"] / 1000.0,
                m.get("Executor Run Time", 0) / 1000.0,
                m.get("JVM GC Time", 0) / 1000.0,
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                + wr.get("Shuffle Bytes Written", 0),
                m.get("Disk Bytes Spilled", 0),
            ))
            for a in info.get("Accumulables", []):
                if isinstance(a.get("Update"), (int, str)) and str(a["Update"]).lstrip("-").isdigit():
                    accum[a["ID"]] += int(a["Update"])
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            plans.append(_plan(ev["sparkPlanInfo"]))
        elif kind.endswith("DriverAccumUpdates"):
            for acc_id, v in ev.get("accumUpdates", []):
                accum[acc_id] += v
    return EventLog(tasks, plans, dict(accum))
