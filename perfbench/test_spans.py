"""Span arithmetic on a synthetic span and event set.

    python3 -m pytest perfbench/test_spans.py
"""

import json
import sys
import threading
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from spans import (Span, Task, Tracer, layer_table, parse_event_log,  # noqa: E402
                   self_times)

def _task(group, launch, finish, run_s=None, gc_s=0.0):
    return Task(group, launch, finish, finish - launch if run_s is None else run_s,
                gc_s, 0, 0)


def test_self_time_is_wall_minus_covered_children():
    spans = [
        Span("scheduler", 0, None, 0.0, 10.0),
        Span("crawl_round", 1, 0, 1.0, 4.0),
        Span("fetch", 2, 1, 2.0, 3.0),
        Span("catalog.round_log", 3, 0, 5.0, 7.0),
        # opened on another thread: a root of its own, never subtracted
        Span("catalog.docs", 4, None, 3.5, 9.0),
        # the seed write, before the scheduler starts
        Span("catalog.frontier", 5, None, -2.0, 0.0),
    ]
    selfs = self_times(spans)
    assert selfs == {0: 5.0, 1: 2.0, 2: 1.0, 3: 2.0, 4: 5.5, 5: 2.0}
    # the scheduler thread's tree: its self times add up to the root's wall
    assert sum(selfs[i] for i in (0, 1, 2, 3)) == spans[0].end - spans[0].start


def test_driver_only_is_wall_minus_union_of_own_task_intervals():
    spans = [Span("crawl_round", 0, None, 0.0, 10.0)]
    tasks = [
        _task("crawl_round#0", 1.0, 3.0),
        _task("crawl_round#0", 2.0, 4.0),    # overlaps the first
        _task("crawl_round#0", 8.0, 12.0),   # runs past the span's end
        _task("catalog.docs#9", 4.0, 8.0),   # another span's job
        _task(None, 4.0, 8.0),               # a job outside every span
    ]
    row = layer_table(spans, tasks)["crawl_round"]
    assert row["driver_only_s"] == 10.0 - 3.0 - 2.0
    assert row["task_s"] == 2.0 + 2.0 + 4.0


def test_background_thread_jobs_stay_with_their_own_span():
    spans = [
        Span("crawl_round", 0, None, 0.0, 10.0),
        Span("catalog.docs", 1, None, 0.0, 6.0),
    ]
    tasks = [_task("catalog.docs#1", 1.0, 5.0, gc_s=0.5),
             _task("crawl_round#0", 6.0, 8.0)]
    table = layer_table(spans, tasks)
    assert table["catalog.docs"]["task_s"] == 4.0
    assert table["catalog.docs"]["gc_s"] == 0.5
    assert table["catalog.docs"]["driver_only_s"] == 2.0
    assert table["crawl_round"]["task_s"] == 2.0
    assert table["crawl_round"]["driver_only_s"] == 8.0


class FakeContext:
    """The local-property calls of a SparkContext: one map per thread."""

    def __init__(self):
        self._local = threading.local()

    def _props(self):
        return self._local.__dict__.setdefault("props", {})

    def getLocalProperty(self, key):
        return self._props().get(key)

    def setLocalProperty(self, key, value):
        if value is None:
            self._props().pop(key, None)
        else:
            self._props()[key] = value


def test_tracer_sets_and_restores_job_group_per_thread():
    sc = FakeContext()
    tracer = Tracer(sc)
    seen = {}

    def background():
        with tracer.span("catalog.docs") as sp:
            seen["bg"] = (sc.getLocalProperty("spark.jobGroup.id"), sp.parent)
        seen["bg_after"] = sc.getLocalProperty("spark.jobGroup.id")

    with tracer.span("scheduler"):
        with tracer.span("crawl_round") as sp:
            seen["round"] = (sc.getLocalProperty("spark.jobGroup.id"), sp.parent)
            th = threading.Thread(target=background)
            th.start()
            th.join(timeout=10)
            assert not th.is_alive()
        seen["after"] = sc.getLocalProperty("spark.jobGroup.id")
    assert seen["round"] == ("crawl_round#1", 0)
    assert seen["bg"] == ("catalog.docs#2", None)
    assert seen["bg_after"] is None
    assert seen["after"] == "scheduler#0"
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert tracer.overhead_s > 0


def test_event_log_tasks_and_sql_metrics():
    plan = {"nodeName": "WholeStageCodegen", "simpleString": "", "metrics": [],
            "children": [{"nodeName": "ArrowEvalPython",
                          "simpleString": "ArrowEvalPython [extract_udf(html#1)]",
                          "metrics": [{"name": "time to run Python workers",
                                       "accumulatorId": 7, "metricType": "timing"},
                                      {"name": "number of output rows",
                                       "accumulatorId": 8, "metricType": "sum"}],
                          "children": []}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "crawl_round#4"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Info": {"Launch Time": 1000, "Finish Time": 3500, "Accumulables": [
             {"ID": 7, "Update": "1500"}, {"ID": 8, "Update": 40}]},
         "Task Metrics": {"Executor Run Time": 2400, "JVM GC Time": 100,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                   "Local Bytes Read": 1000},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 500},
                          "Disk Bytes Spilled": 0}},
    ]
    log = parse_event_log(json.dumps(e) for e in events)
    (task,) = log.tasks
    assert (task.group, task.launch, task.finish, task.run_s, task.gc_s,
            task.shuffle_bytes) == ("crawl_round#4", 1.0, 3.5, 2.4, 0.1, 1500)
    (node,) = [n for n in log.nodes() if n.name == "ArrowEvalPython"]
    assert log.seconds(node, "time to run Python workers") == 1.5
    assert log.value(node, "number of output rows") == 40
