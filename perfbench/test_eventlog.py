"""Tests of the event-log fold on a small canned log (standard library).

    python3 perfbench/test_eventlog.py      # or: python3 -m pytest perfbench
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402


def _task(stage: int, run_ms: int, accums=(), ok=True, **metrics) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": metrics.get("gc", 0),
            "Disk Bytes Spilled": metrics.get("spill", 0),
            "Shuffle Write Metrics": {
                "Shuffle Bytes Written": metrics.get("shuffle", 0)},
            "Shuffle Read Metrics": {"Fetch Wait Time": metrics.get("wait", 0),
                                     "Local Bytes Read": 0,
                                     "Remote Bytes Read": 0},
            "Input Metrics": {"Bytes Read": metrics.get("read", 0)},
            "Output Metrics": {"Bytes Written": 0, "Records Written": 0}},
        "Task Info": {"Accumulables": [
            {"ID": i, "Name": "x", "Update": str(v)} for i, v in accums]}}


def _stage(stage: int, span: str | None, rdds=("MapPartitionsRDD",),
           cached=False) -> dict:
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": stage, "RDD Info": [
                {"Name": n, "Storage Level": {"Use Memory": cached,
                                              "Use Disk": False}}
                for n in rdds]},
            "Properties": {"spark.job.description": span} if span else {}}


def _node(name: str, metrics=(), children=()) -> dict:
    return {"nodeName": name, "children": list(children),
            "metrics": [{"name": n, "accumulatorId": i} for n, i in metrics]}


PLAN = _node("AdaptiveSparkPlan", children=[
    _node("SortMergeJoin", [("number of output rows", 10)], [
        _node("MapInPandas", [("time to run Python workers", 20),
                              ("time to start Python workers", 21),
                              ("time to initialize Python workers", 22),
                              ("data sent to Python workers", 23),
                              ("number of output rows", 24)], [
            _node("WholeStageCodegen (1)", children=[
                _node("Filter", [("number of output rows", 25)])])]),
        _node("BroadcastNestedLoopJoin", [("number of output rows", 11)])])])

CANNED = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage IDs": [0], "Properties": {"spark.job.description": "geo"}},
    _stage(0, "geo", rdds=("FileScanRDD", "MapPartitionsRDD")),
    _task(0, 300, gc=5, read=4000, shuffle=1000),
    _task(0, 500, read=6000),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1900},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
     "Stage IDs": [1, 2], "Properties": {"spark.job.description": "knn"}},
    _stage(1, "knn", rdds=("FileScanRDD", "InMemoryRDD"), cached=True),
    # the task ends before the adaptive re-plan that names its
    # accumulators is logged: the fold must still type them
    _task(1, 700, accums=[(10, 42), (11, 99), (20, 300), (21, 50),
                          (22, 9999), (23, 2048), (24, 7), (25, 8)],
          read=500, wait=3),
    _task(1, 100, ok=False, spill=64),
    {"Event": "org.apache.spark.sql.execution.ui."
              "SparkListenerSQLAdaptiveExecutionUpdate",
     "executionId": 0, "sparkPlanInfo": PLAN},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2600},
    # a stage submitted without a description falls back to its job's
    _stage(2, None),
    _task(2, 50),
]


class FoldTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        with open(os.path.join(self.dir.name, "local-1"), "w") as fh:
            fh.writelines(json.dumps(e) + "\n" for e in CANNED)
        self.folded = eventlog.fold(eventlog.read_events(self.dir.name))

    def tearDown(self):
        self.dir.cleanup()

    def test_task_metrics_fold_per_span(self):
        geo = self.folded["geo"]
        self.assertEqual(geo["tasks"], 2)
        self.assertEqual(geo["task_ms"], 800)
        self.assertEqual(geo["max_task_ms"], 500)
        self.assertEqual(geo["gc_ms"], 5)
        self.assertEqual(geo["shuffle_write_bytes"], 1000)
        self.assertEqual(geo["input_bytes"], 10000)
        self.assertEqual(geo["jobs"], [[1000, 1900]])

    def test_file_scan_bytes_skip_cached_reads(self):
        self.assertEqual(self.folded["geo"]["file_scan_bytes"], 10000)
        self.assertEqual(self.folded["knn"]["file_scan_bytes"], 0)
        self.assertEqual(self.folded["knn"]["input_bytes"], 500)

    def test_sql_metrics_typed_by_plan_node(self):
        knn = self.folded["knn"]
        self.assertEqual(knn["tasks"], 3)
        self.assertEqual(knn["failed_tasks"], 1)
        self.assertEqual(knn["spill_bytes"], 64)
        self.assertEqual(knn["fetch_wait_ms"], 3)
        self.assertEqual(knn["join_rows"], 42)      # not the nested loop
        self.assertEqual(knn["py_run_ms"], 300)
        self.assertEqual(knn["py_start_ms"], 50)    # init age left out
        self.assertEqual(knn["py_sent_bytes"], 2048)
        self.assertEqual(knn["py_out_rows"], 7)
        self.assertEqual(knn["py_in_rows"], 8)

    def test_self_times_subtract_children(self):
        spans = [{"name": "job", "parent": None, "start": 0.0, "end": 10.0},
                 {"name": "a", "parent": 0, "start": 1.0, "end": 4.0},
                 {"name": "b", "parent": 1, "start": 2.0, "end": 3.0},
                 {"name": "a", "parent": 0, "start": 6.0, "end": 7.0}]
        st = eventlog.self_times(spans)
        self.assertAlmostEqual(st["job"], 6.0)
        self.assertAlmostEqual(st["a"], 3.0)
        self.assertAlmostEqual(st["b"], 1.0)
        self.assertAlmostEqual(sum(st.values()), 10.0)

    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(eventlog.covered([[0, 5], [3, 8], [20, 30]], 2, 25),
                         11)


class CatalogueTest(unittest.TestCase):

    def test_benchmark_json_lists_every_per_layer_metric(self):
        try:
            import replay
        except ImportError as e:  # replay needs the engine's imports
            self.skipTest(str(e))
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "..", "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual(
            [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]],
            replay.catalogue())


if __name__ == "__main__":
    unittest.main()
