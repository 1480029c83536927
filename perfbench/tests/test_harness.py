"""Tests for the benchmark's Python side: BENCHMARK.json's shape, the result
check in run.py and the count comparison in delta.py.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import delta  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}\Z")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class BenchmarkJsonTest(unittest.TestCase):
    def test_keys_and_limits(self):
        s = spec()
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertTrue(1 <= s["run_seconds"] <= 60)
        self.assertTrue(2 <= len(s["workloads"]) <= 8)
        self.assertTrue(1 <= len(s["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(s["per_layer"]) <= 128)
        for p in s["paths"]:
            self.assertRegex(p, r"\A[A-Za-z0-9_.\-/]{1,200}\Z")
            self.assertTrue(os.path.isdir(os.path.join(ROOT, p)))
        for arg in s["command"]:
            self.assertFalse(arg.startswith("/") or ".." in arg.split("/"))
        self.assertLessEqual(os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")), 65536)

    def test_names_units_and_bounds(self):
        s = spec()
        names = [w["name"] for w in s["workloads"]]
        for w in s["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertLessEqual(len(w["why"]), 200)
            self.assertNotIn("\n", w["why"])
        for m in s["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in s["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        for m in s["end_to_end"] + s["per_layer"]:
            names.append(m["name"])
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in s["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(len(setup), 1)
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in s["end_to_end"]))

    def test_run_knows_every_workload(self):
        self.assertEqual([w["name"] for w in spec()["workloads"]], list(run.WORKLOADS))


class ResultCheckTest(unittest.TestCase):
    expected = {"setup_s": "s", "op_ms_p50": "ms"}

    def result(self, **metrics):
        return {"correct": True, "attempted": 3, "failed": 0,
                "metrics": {k: {"value": v, "unit": self.expected[k]}
                            for k, v in metrics.items()}}

    def test_well_formed_result_passes(self):
        self.assertEqual(run.check_result(self.result(setup_s=1.5, op_ms_p50=20.25),
                                          self.expected), [])

    def test_missing_or_extra_metric_is_reported(self):
        self.assertTrue(run.check_result(self.result(setup_s=1.5), self.expected))
        r = self.result(setup_s=1.5, op_ms_p50=2.0)
        r["metrics"]["other"] = {"value": 1, "unit": "s"}
        self.assertTrue(run.check_result(r, self.expected))

    def test_bad_values_are_reported(self):
        r = self.result(setup_s=1.5, op_ms_p50=2.0)
        r["metrics"]["op_ms_p50"]["unit"] = "s"
        self.assertTrue(run.check_result(r, self.expected))
        r = self.result(setup_s=None, op_ms_p50=2.0)
        self.assertTrue(run.check_result(r, self.expected))
        r = self.result(setup_s=1.0, op_ms_p50=2.0)
        r["attempted"] = 0
        self.assertTrue(run.check_result(r, self.expected))
        r = self.result(setup_s=1.0, op_ms_p50=2.0)
        r["seed"] = 7
        self.assertTrue(run.check_result(r, self.expected))


class DeltaTest(unittest.TestCase):
    def trace(self, d, jobs_per_pass, shuffle=1000):
        """A query_mix trace: q_bfs (graph) and q_sql (relational) per pass."""
        spans = []
        for i, jobs in enumerate(jobs_per_pass):
            spans.append({"id": 2 * i, "name": "q_bfs", "parent": -1, "op": 2 * i + 1,
                          "sched.jobs": jobs, "sched.tasks": 40,
                          "shuffle.write_bytes": shuffle})
            spans.append({"id": 2 * i + 1, "name": "q_sql", "parent": -1, "op": 2 * i + 2,
                          "sched.jobs": 6, "sched.tasks": 6})
        path = os.path.join(d, "trace-query_mix-3.json")
        with open(path, "w") as f:
            json.dump({"workload": "query_mix", "seed": 3, "spans": spans,
                       "families": {"q_bfs": "graph", "q_sql": "relational"}}, f)
        return path

    def test_identical_counts_pass(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.trace(a, [23, 23, 23])
            self.trace(b, [23, 23, 23])
            self.assertEqual(delta.main([a, b]), 0)

    def test_an_odd_pass_does_not_move_the_count(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.trace(a, [23, 23, 23])
            self.trace(b, [23, 25, 23])
            self.assertEqual(delta.main([a, b]), 0)

    def test_one_more_job_is_flagged(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            pa = self.trace(a, [23, 23, 23])
            pb = self.trace(b, [24, 24, 24])
            self.assertEqual(delta.main([pa, pb]), 1)
            rows = delta.compare(delta.load(pa), delta.load(pb))
            self.assertEqual(sorted(r[2] for r in rows if r[6]),
                             ["family.graph", "op.q_bfs", "total"])

    def test_shuffle_bytes_tolerate_small_reordering_noise(self):
        self.assertFalse(delta.flagged("shuffle_bytes", 100000, 100500))
        self.assertTrue(delta.flagged("shuffle_bytes", 100000, 102000))
        self.assertTrue(delta.flagged("files_written", 10, 11))


if __name__ == "__main__":
    unittest.main()
