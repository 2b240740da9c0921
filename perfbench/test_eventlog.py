"""Unit tests for the event-log reducer, the span attribution and the
timing helpers.

No Spark session: the event log is a small synthetic one written in
Spark's JSON-lines shape. Run with ``python3 -m unittest
perfbench/test_eventlog.py`` or ``python3 perfbench/test_eventlog.py``.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402
import run  # noqa: E402
from spans import Span, Tracer  # noqa: E402


def job_start(jid, stages, t_ms, group=None, execution=None):
    props = {"spark.jobGroup.id": group} if group else {}
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": t_ms, "Stage IDs": stages, "Properties": props}


def job_end(jid, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid,
            "Completion Time": t_ms, "Job Result": {"Result": "JobSucceeded"}}


def task_end(stage, run_ms, gc_ms=0, read=0, written=0, spill=0,
             inp=0, out=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": spill,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
            "Input Metrics": {"Bytes Read": inp},
            "Output Metrics": {"Bytes Written": out},
        },
    }


SQL = "org.apache.spark.sql.execution.ui."


def scan_plan(location, acc):
    """A plan whose one child is a file scan of ``location``."""
    return {"nodeName": "Project", "metrics": [], "children": [{
        "nodeName": "Scan parquet", "children": [],
        "metadata": {"Location": f"InMemoryFileIndex(1 paths)[{location}]"},
        "metrics": [{"name": "number of files read", "accumulatorId": acc + 1},
                    {"name": "size of files read", "accumulatorId": acc}],
    }]}


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
    # job 0 in group a#0: two stages, three tasks
    job_start(0, [0, 1], 1_000, "a#0"),
    task_end(0, 100, gc_ms=10, written=64, inp=1_000),
    task_end(0, 200, written=36, inp=500),
    task_end(1, 300, read=100, out=2_000),
    job_end(0, 2_000),
    # job 1 in group b#1 lists stage 1 again (skipped) and runs stage 2
    job_start(1, [1, 2], 3_000, "b#1"),
    task_end(2, 50, spill=7),
    job_end(1, 3_500),
    # a job outside every group
    job_start(2, [3], 4_000),
    task_end(3, 10),
    job_end(2, 4_100),
]


class ReducerTest(unittest.TestCase):
    def reduce_from_disk(self):
        with tempfile.TemporaryDirectory() as d:
            roll = os.path.join(d, "eventlog_v2_local-1")
            os.makedirs(roll)
            half = len(EVENTS) // 2
            for n, chunk in ((2, EVENTS[half:]), (1, EVENTS[:half])):
                with open(os.path.join(roll, f"events_{n}_local-1"), "w") as fh:
                    fh.writelines(json.dumps(e) + "\n" for e in chunk)
            with open(os.path.join(roll, "appstatus_local-1"), "w"):
                pass
            return eventlog.reduce_log_dir(d)

    def test_sums_per_group(self):
        g = self.reduce_from_disk()
        self.assertEqual(set(g), {"a#0", "b#1", ""})
        a = g["a#0"]
        self.assertEqual((a.jobs, a.tasks), (1, 3))
        self.assertAlmostEqual(a.executor_run_s, 0.6)
        self.assertAlmostEqual(a.gc_s, 0.01)
        self.assertEqual(a.shuffle_bytes, 64 + 36 + 100)
        self.assertEqual((a.input_bytes, a.output_bytes), (1_500, 2_000))
        self.assertEqual(a.job_spans, [(1.0, 2.0)])
        b = g["b#1"]
        # the skipped stage's tasks stay with the job that ran them
        self.assertEqual((b.jobs, b.tasks, b.spill_bytes), (1, 1, 14))
        self.assertEqual(g[""].tasks, 1)

    def test_scan_bytes_per_group_and_location(self):
        g = eventlog.reduce_events([
            {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 7,
             "sparkPlanInfo": scan_plan("file:/w/index/bands", 40)},
            # an adaptive re-plan lists the same scan again
            {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
             "executionId": 7,
             "sparkPlanInfo": scan_plan("file:/w/index/bands", 40)},
            {"Event": SQL + "SparkListenerDriverAccumUpdates",
             "executionId": 7, "accumUpdates": [[40, 3_000], [41, 5]]},
            job_start(0, [0], 1_000, "cli#0", execution=7),
            job_end(0, 2_000),
            # a scan whose execution ran no job has no group to go to
            {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 8,
             "sparkPlanInfo": scan_plan("file:/w/other", 50)},
            {"Event": SQL + "SparkListenerDriverAccumUpdates",
             "executionId": 8, "accumUpdates": [[50, 9]]},
        ])
        self.assertEqual(g["cli#0"].scan_bytes, {"file:/w/index/bands": 3_000})

    def test_missing_log_raises(self):
        with tempfile.TemporaryDirectory() as d:
            with self.assertRaises(FileNotFoundError):
                eventlog.reduce_log_dir(d)

    def test_intervals(self):
        self.assertEqual(eventlog.merge([(3, 4), (1, 2), (1.5, 3)]), [(1, 4)])
        self.assertEqual(eventlog.subtract([(0, 10)], [(2, 3), (5, 12)]),
                         [(0, 2), (3, 5)])
        self.assertEqual(eventlog.length([(0, 1), (0.5, 2)]), 2)


class AttributionTest(unittest.TestCase):
    def test_self_and_driver_time(self):
        tr = Tracer(sc=None)
        # outer span 0..10 s with a child 2..5 s; the outer call's job runs
        # 6..8 s and the child's job 3..4 s
        tr.spans = [Span("a", "a#0", 0.0, 10.0),
                    Span("b", "b#1", 2.0, 5.0, parent=0)]
        groups = eventlog.reduce_events([
            job_start(0, [0], 6_000, "a#0"), task_end(0, 1_500),
            job_end(0, 8_000),
            job_start(1, [1], 3_000, "b#1"), task_end(1, 700),
            job_end(1, 4_000),
        ])
        t = tr.layer_totals(groups)
        self.assertAlmostEqual(t["a"]["self_s"], 7.0)
        self.assertAlmostEqual(t["a"]["driver_s"], 5.0)
        self.assertAlmostEqual(t["a"]["executor_run_s"], 1.5)
        self.assertAlmostEqual(t["b"]["self_s"], 3.0)
        self.assertAlmostEqual(t["b"]["driver_s"], 2.0)
        self.assertEqual((t["a"]["calls"], t["b"]["jobs"]), (1, 1))

    def test_install_tags_jobs_and_uninstall_restores(self):
        sys.path.insert(0, os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))))
        from database_migration_spark import runner
        from database_migration_spark.operators import validate

        class FakeContext:
            def __init__(self):
                self.props = []

            def setLocalProperty(self, key, value):
                self.props.append(value)

        original = validate.validate_pair
        sc = FakeContext()
        tr = Tracer(sc)
        tr.install()
        try:
            # the name runner bound at import time is wrapped too
            self.assertIsNot(runner.validate_pair, original)
            self.assertIs(runner.validate_pair, validate.validate_pair)
            with self.assertRaises(AttributeError):
                runner.validate_pair(None, None, "t")
        finally:
            tr.uninstall()
        self.assertIs(runner.validate_pair, original)
        self.assertIs(validate.validate_pair, original)
        self.assertEqual(sc.props, ["validate#0", None])
        self.assertEqual([(s.layer, s.parent) for s in tr.spans],
                         [("validate", -1)])

    def test_spans_carry_the_route_of_their_root(self):
        class FakeContext:
            def setLocalProperty(self, key, value):
                pass

        tr = Tracer(FakeContext())
        inner = tr.wrap("dedup", lambda df: df)
        outer = tr.wrap("cli", lambda argv: inner(argv[-1]))
        outer(["dedup", "probe", "--index", "x"])
        self.assertEqual([(s.layer, s.route) for s in tr.spans],
                         [("cli", "dedup probe"), ("dedup", "dedup probe")])


class TimingTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        value, pct, beyond = run.tail([float(x) for x in range(1, 21)])
        self.assertEqual((value, pct, beyond), (10.0, 50.0, 10))

    def test_steal_share_of_runnable_time(self):
        # user nice system idle iowait irq softirq steal
        start = [100, 0, 50, 1000, 10, 0, 0, 5]
        end = [160, 0, 70, 1500, 20, 0, 0, 25]
        # 60 user + 20 system + 20 steal runnable; idle and iowait excluded
        self.assertAlmostEqual(run.steal_share(start, end), 0.2)
        self.assertEqual(run.steal_share(start, start), 0.0)


if __name__ == "__main__":
    unittest.main()
