"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The end-to-end tests build and run the benchmark (about a minute each); set
PERFBENCH_FAST=1 to run only the unit tests.
"""
import json
import os
import subprocess
import sys
import unittest

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


class OracleCompareTest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()

    def rel(self, sql):
        return self.con.sql(sql)

    def test_equal_outputs_in_any_order_pass(self):
        a = self.rel("SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(k, v)")
        b = self.rel("SELECT v, k FROM (VALUES (2, 'y'), (1, 'x')) t(k, v)")
        self.assertIsNone(run.compare(a, b))

    def test_a_changed_value_fails(self):
        a = self.rel("SELECT * FROM (VALUES (1, 0.520313)) t(k, q)")
        b = self.rel("SELECT * FROM (VALUES (1, 0.520312)) t(k, q)")
        self.assertEqual(run.compare(a, b), "1/1 rows differ")

    def test_a_widened_type_fails(self):
        a = self.rel("SELECT CAST(1 AS BIGINT) AS s")
        b = self.rel("SELECT CAST(1 AS HUGEINT) AS s")
        self.assertIn("types", run.compare(a, b))


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_workloads_match_the_runner(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]], run.WORKLOADS)

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in self.spec["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])


@unittest.skipIf(os.environ.get("PERFBENCH_FAST"), "end-to-end runs skipped")
class EndToEndTest(unittest.TestCase):
    def bench(self, *args):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + list(args),
                           cwd=run.ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        return json.loads(r.stdout.strip().splitlines()[-1])

    def test_corrupted_expectations_fail_every_checked_read(self):
        # every query checksum and every history read checks against an
        # offset value; the MERGE and the point lookups are still correct
        res = self.bench("--workload", "warehouse_nightly", "--seed", "5", "--seconds", "1",
                         "--trace", "0", "--corrupt")
        self.assertFalse(res["correct"])
        queries, lookups_and_merges = 5, 3
        passes = res["attempted"] // (queries + lookups_and_merges + 1)
        self.assertEqual(res["failed"], passes * (queries + 1))

    def test_traced_run_reports_every_per_layer_metric(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            names = {m["name"] for m in json.load(f)["per_layer"]}
        res = self.bench("--workload", "warehouse_nightly", "--seed", "6", "--seconds", "2",
                         "--trace", "1")
        self.assertTrue(res["correct"])
        self.assertEqual(set(res["metrics"]), names)
        self.assertGreater(res["metrics"]["upsert.merge_ms_p50"]["value"], 0)
        self.assertGreater(res["metrics"]["etl.merge_s"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
