"""Self-test of the event-log parser on the recorded fixture.

    python3 perfbench/test_layers.py

The fixture (``fixtures/eventlog``, made by
``fixtures/record_eventlog.py``) holds a mapInPandas lane that sleeps
0.2 s per partition on two partitions, a grouped count, and a
two-epoch foreachBatch stream, split into two rolling parts.
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from layers import PYTHON_METRICS, event_log_files, parse_event_log, spark_layers  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog")
with open(os.path.join(HERE, "fixtures", "eventlog_expected.json")) as f:
    EXPECTED = json.load(f)


class EventLogTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.log = parse_event_log(FIXTURE)
        cls.everything = spark_layers(cls.log, 0.0, float("inf"), 1)

    def test_rolling_parts_in_order(self):
        names = [os.path.basename(p) for p in event_log_files(FIXTURE)]
        self.assertEqual(names, ["events_1_fixture", "events_2_fixture"])

    def test_stream_jobs_carry_the_run_id_as_job_group(self):
        groups = [j["group"] for j in self.log["jobs"]]
        self.assertIn("fixture-python", groups)
        self.assertIn("fixture-shuffle", groups)
        self.assertGreaterEqual(groups.count(EXPECTED["stream_run_id"]), 2)

    def test_python_metric_units_come_from_the_plan(self):
        kinds = {
            self.log["metric_types"][int(acc["ID"])]
            for t in self.log["tasks"]
            for acc in t["Task Info"]["Accumulables"]
            if acc["Name"] in PYTHON_METRICS
        }
        self.assertEqual(kinds, {"timing", "size"})

    def test_python_time_sums_task_updates_once(self):
        # the stage-level total of the same accumulators must equal the
        # sum of the per-task updates: nothing is counted twice
        stage_total = sum(
            float(acc["Value"])
            for s in self.log["stages"].values()
            for acc in s["Accumulables"]
            if acc["Name"] == "time to run Python workers"
        )
        self.assertAlmostEqual(self.everything["functions.py_run_s"], stage_total / 1000.0)
        # two partitions each sleep 0.2 s inside the Python worker, and
        # that time is part of those tasks' executor run time
        python_stages = {
            t["Stage ID"]
            for t in self.log["tasks"]
            if any(a["Name"] in PYTHON_METRICS for a in t["Task Info"]["Accumulables"])
        }
        stage_run_s = sum(
            t["Task Metrics"]["Executor Run Time"] / 1000.0
            for t in self.log["tasks"]
            if t["Stage ID"] in python_stages
        )
        self.assertGreaterEqual(self.everything["functions.py_run_s"], 0.4)
        self.assertLessEqual(self.everything["functions.py_run_s"], stage_run_s)
        self.assertGreater(self.everything["functions.py_bytes_to"], 0)

    def test_scheduler_counts(self):
        self.assertEqual(self.everything["spark.sched.jobs"], len(self.log["jobs"]))
        self.assertEqual(self.everything["spark.sched.tasks"], len(self.log["tasks"]))
        self.assertGreater(self.everything["spark.exec.shuffle_write_bytes"], 0)
        self.assertGreater(self.everything["spark.exec.run_s"], 0.4)

    def test_window_excludes_jobs_outside_it(self):
        first = min(j["submit_s"] for j in self.log["jobs"])
        none = spark_layers(self.log, 0.0, first - 1.0, 1)
        self.assertEqual(none["spark.sched.jobs"], 0)
        self.assertEqual(none["spark.exec.run_s"], 0)


if __name__ == "__main__":
    unittest.main()
