"""Layer attribution of a traced registry pass.

Runs `registry_sf0.001` with tracing on (about a minute) and checks that
every Spark job fell under exactly one benchmark span (a query's
construction or action, a shared build, or set-up), that the listener's
job times fall inside the span that set the job group, and that the
listener-measured layers fit inside the measured registry total.

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class AttributionTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
             "registry_sf0.001", "--seed", "3", "--seconds", "2", "--trace", "1"],
            check=True, stdout=subprocess.PIPE, text=True)
        cls.result = json.loads(p.stdout.strip().splitlines()[-1])
        with open(os.path.join(BENCH, "out", "layers-registry_sf0.001-seed3.json")) as f:
            cls.layers = json.load(f)

    def test_run_is_correct(self):
        self.assertTrue(self.result["correct"], self.result)

    def test_no_orphan_jobs(self):
        self.assertEqual(self.layers["detail"]["orphan_jobs"], {})
        self.assertEqual(self.result["metrics"]["trace.orphan_jobs"]["value"], 0)

    def test_every_execution_has_its_jobs(self):
        raw = self.layers["raw"]
        for s in raw["cold"] + raw["samples"]:
            jobs = s["construct"]["jobs"] + s["action"]["jobs"]
            self.assertGreater(jobs, 0, s["q"])
            self.assertEqual(s["action"]["attempts"], s["action"]["succeeded"], s["q"])

    def test_jobs_fall_inside_their_spans(self):
        r = self.layers["detail"]["reconcile"]
        self.assertEqual(r["violations"], [])

    def test_measured_layers_reconcile_with_registry_total(self):
        # listener job wall time plus Catalyst cannot exceed the span total;
        # the rest is driver-side time, reported as such
        r = self.layers["detail"]["reconcile"]
        tol = r["tolerance_ms"] / 1e3 * len(self.layers["detail"]["per_query_s"])
        self.assertGreater(r["measured_s"], 0)
        self.assertLessEqual(r["measured_s"], r["registry_total_s"] + tol)
        m = self.layers["metrics"]
        self.assertGreaterEqual(m["exec.driver_gap_s"][0], -tol)


if __name__ == "__main__":
    unittest.main()
