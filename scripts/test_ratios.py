"""Unit tests for scripts/ratios.py on fixture bench/baseline files.

Run: python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import json
import math
import os
import subprocess
import sys
import tempfile
import unittest

RATIOS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "ratios.py")


def bench_line(queries):
    return {"metric": "total", "value": sum(v for v in queries.values()
                                            if v >= 0),
            "unit": "sec", "reps": 3, "queries": queries,
            "sf": "/data/sf0.1"}


class RatiosTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.bench = os.path.join(self.dir.name, "bench.json")

    def tearDown(self):
        self.dir.cleanup()

    def run_ratios(self, bench, baseline_queries):
        """Write `bench` (unless None: keep the file) and a baseline, run
        the script; return the process and the bench file after it."""
        if bench is not None:
            with open(self.bench, "w") as f:
                json.dump(bench, f)
        base = os.path.join(self.dir.name, "base.json")
        with open(base, "w") as f:
            json.dump({"sf_dir": "/data/sf0.1", "queries": baseline_queries},
                      f)
        p = subprocess.run([sys.executable, RATIOS, self.bench, base],
                           capture_output=True, text=True)
        with open(self.bench) as f:
            return p, json.load(f)

    def test_per_query_ratio_rounded_to_three_places(self):
        p, out = self.run_ratios(bench_line({"q1": 1.0, "q2": 2.0}),
                                 {"q1": 3.0, "q2": 0.3})
        self.assertEqual(p.returncode, 0, p.stderr)
        self.assertEqual(out["vs_baseline"], {"q1": 0.333, "q2": 6.667})
        # timings are never altered
        self.assertEqual(out["queries"], {"q1": 1.0, "q2": 2.0})
        self.assertEqual(out["value"], 3.0)

    def test_total_over_common_queries_only(self):
        p, out = self.run_ratios(
            bench_line({"q1": 1.0, "q2": 2.0, "only_bench": 50.0}),
            {"q1": 3.0, "q2": 0.3, "only_base": 7.0})
        self.assertEqual(p.returncode, 0, p.stderr)
        self.assertEqual(out["vs_baseline_total"], round(3.0 / 3.3, 3))
        self.assertEqual(set(out["vs_baseline"]), {"q1", "q2"})
        # baseline_sec sums the whole baseline, common or not
        self.assertEqual(out["baseline_sec"], 10.3)

    def test_geomean_of_per_query_ratios(self):
        p, out = self.run_ratios(bench_line({"q1": 1.0, "q2": 8.0}),
                                 {"q1": 2.0, "q2": 1.0})
        self.assertEqual(p.returncode, 0, p.stderr)
        self.assertEqual(out["vs_baseline_geomean"], 2.0)  # sqrt(0.5 * 8)
        p, out = self.run_ratios(bench_line({"q1": 1.0, "q2": 1.0,
                                             "q3": 1.0}),
                                 {"q1": 1.0, "q2": 0.5, "q3": 0.25})
        self.assertEqual(out["vs_baseline_geomean"],
                         round(math.exp(math.log(8.0) / 3), 3))

    def test_buckets_split_at_a_tenth_of_a_second(self):
        p, out = self.run_ratios(
            bench_line({"a": 1.0, "b": 0.5, "c": 0.4, "d": 0.3}),
            {"a": 0.5, "b": 0.1, "c": 0.09, "d": 0.01})
        self.assertEqual(p.returncode, 0, p.stderr)
        self.assertEqual(out["real_work"], {"n": 2, "spark_sec": 1.5,
                                            "duckdb_sec": 0.6,
                                            "ratio": 2.5})
        self.assertEqual(out["floor_dominated"], {"n": 2, "spark_sec": 0.7,
                                                  "duckdb_sec": 0.1,
                                                  "ratio": 7.0})

    def test_failed_lines_and_zero_baselines_are_excluded(self):
        p, out = self.run_ratios(
            bench_line({"q1": 1.0, "failed": -1.0, "zero": 2.0}),
            {"q1": 2.0, "failed": 1.0, "zero": 0.0})
        self.assertEqual(p.returncode, 0, p.stderr)
        self.assertEqual(out["vs_baseline"], {"q1": 0.5})
        self.assertEqual(out["vs_baseline_total"], 0.5)
        self.assertEqual(out["real_work"]["n"], 1)

    def test_no_common_queries_exits_non_zero_and_keeps_the_file(self):
        line = bench_line({"q1": 1.0, "failed": -1.0})
        p, out = self.run_ratios(line, {"q2": 1.0, "failed": 1.0})
        self.assertNotEqual(p.returncode, 0)
        self.assertIn("no common queries", p.stderr)
        self.assertEqual(out, line)

    def test_rerun_against_another_baseline_leaves_no_stale_key(self):
        p, first = self.run_ratios(bench_line({"a": 1.0, "b": 1.0}),
                                   {"a": 0.5, "b": 0.05})
        self.assertEqual(p.returncode, 0, p.stderr)
        self.assertIn("floor_dominated", first)
        p, second = self.run_ratios(None, {"a": 2.0})
        self.assertEqual(p.returncode, 0, p.stderr)
        self.assertNotIn("floor_dominated", second)
        self.assertEqual(second["real_work"], {"n": 1, "spark_sec": 1.0,
                                               "duckdb_sec": 2.0,
                                               "ratio": 0.5})
        self.assertEqual(second["vs_baseline"], {"a": 0.5})
        self.assertEqual(second["vs_baseline_total"], 0.5)
        self.assertEqual(second["vs_baseline_geomean"], 0.5)
        self.assertEqual(second["baseline_sec"], 2.0)
        self.assertEqual(second["queries"], {"a": 1.0, "b": 1.0})


if __name__ == "__main__":
    unittest.main()
