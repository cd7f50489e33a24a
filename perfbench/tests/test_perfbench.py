"""Tests of the benchmark's own arithmetic and input generator.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import cricsheet  # noqa: E402
import metrics  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(BENCH), "src", "test", "resources", "fixtures")


def archive_bytes(seed, out):
    plan, _, _ = cricsheet.daily_plan(seed, n_history=6, per_zip=4, n_days=8)
    cricsheet.write_archives(plan, sorted(plan.archives), out)
    out_bytes = {}
    for name in sorted(os.listdir(out)):
        with open(os.path.join(out, name), "rb") as f:
            out_bytes[name] = f.read()
    return out_bytes


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            first, second = archive_bytes(7, a), archive_bytes(7, b)
        self.assertEqual(sorted(first), sorted(second))
        self.assertEqual(first, second)

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertNotEqual(archive_bytes(7, a), archive_bytes(8, b))

    def test_row_count_matches_the_engine_fixtures(self):
        # PipelineSpec stages 4 rows for match_tiny and 52 for match_full
        for name, rows in (("match_tiny.json", 4), ("match_full.json", 52)):
            with open(os.path.join(FIXTURES, name)) as f:
                self.assertEqual(cricsheet.staged_rows(json.load(f)), rows)

    def test_daily_expectations(self):
        plan, history, days = cricsheet.daily_plan(3, n_history=10, per_zip=5, n_days=30)
        self.assertEqual(history["newFiles"], 10)
        self.assertFalse(history["hadDrift"])
        rows = history["stagedRows"]
        for d in days:
            self.assertGreaterEqual(d["new"]["newFiles"], 1)
            self.assertGreaterEqual(d["new"]["stagedRows"], rows)
            rows = d["new"]["stagedRows"]
            self.assertEqual(d["noop"]["newFiles"], 0)
        self.assertTrue(any(d["new"]["hadDrift"] for d in days))
        self.assertTrue(any(d["new"]["corruptFiles"] for d in days))
        self.assertEqual(days[-1]["ledger"][0], len(plan.rows))
        self.assertEqual(sum(d["rows_added"] for d in days), rows - history["stagedRows"])


class SelfTimeTest(unittest.TestCase):

    def test_hand_built_tree(self):
        # runOnce [0, 100] holds A [10, 40] (with child B [20, 30]),
        # C [50, 70] and D [65, 90], which starts inside C
        spans = [("A", 10, 40), ("B", 20, 30), ("C", 50, 70), ("D", 65, 90)]
        got = metrics.self_times((0, 100), spans)
        self.assertEqual(got, {None: 30, "A": 20, "B": 10, "C": 15, "D": 25})
        self.assertEqual(sum(got.values()), 100)

    def test_spans_are_clipped_to_the_window(self):
        self.assertEqual(metrics.self_times((0, 10), [("A", -5, 4), ("B", 8, 20)]),
                         {"A": 4, None: 4, "B": 2})


class StageAttributionTest(unittest.TestCase):
    DIRS = {"landing": "/w/landing", "extracted": "/w/run/extracted",
            "staging": "/w/run/staging", "state": "/w/run/state",
            "schema_log": "/w/run/schema_log"}

    def stage(self, call_site, paths=(), writes=()):
        return metrics.pipeline_stage(call_site, list(paths), list(writes), self.DIRS)

    def test_execution_rules(self):
        self.assertEqual(self.stage("count at Pipeline.scala:1", ["/w/landing"]), "select")
        self.assertEqual(self.stage("foreachPartition at Pipeline.scala:2", ["/w/landing"]),
                         "extract")
        self.assertEqual(self.stage("count at Pipeline.scala:3", ["/w/run/extracted/m1.json"]),
                         "validate")
        self.assertEqual(self.stage("collect at DriftReport.scala:4"), "drift")
        self.assertEqual(self.stage("parquet at Pipeline.scala:5", ["/w/run/schema_log"],
                                    ["/w/run/schema_log"]), "drift")
        self.assertEqual(self.stage("parquet at Pipeline.scala:6",
                                    ["/w/run/extracted/m1.json", "/w/run/staging"],
                                    ["/w/run/staging"]), "stage")
        self.assertEqual(self.stage("count at Pipeline.scala:7", ["/w/run/staging"]), "recount")
        self.assertEqual(self.stage("parquet at Sinks.scala:8", ["/w/landing", "/w/run/state.tmp"],
                                    ["/w/run/state.tmp"]), "state")
        self.assertIsNone(self.stage("collect at Elsewhere.scala:9"))

    def test_jobs_outside_executions(self):
        jobs = [
            {"start_ms": 0, "execution": -1, "call_site": "json at Cricsheet.scala:1", "input": 0},
            {"start_ms": 1, "execution": 7, "call_site": "count at Pipeline.scala:2", "input": 9},
            {"start_ms": 2, "execution": -1, "call_site": "json at Cricsheet.scala:1", "input": 0},
            {"start_ms": 3, "execution": -1, "call_site": "json at Cricsheet.scala:1", "input": 5},
        ]
        self.assertEqual(metrics.job_stages(jobs, lambda x: "validate"),
                         ["validate", "validate", "infer", "infer"])


if __name__ == "__main__":
    unittest.main()
