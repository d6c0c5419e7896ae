"""Unit tests for scripts/gate.py on fixture session files.

Run: python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

GATE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gate.py")


def session(queries, reps=3):
    return {"metric": "total", "value": sum(v for v in queries.values()
                                            if v >= 0),
            "unit": "sec", "reps": reps, "queries": queries,
            "sf": "/data/sf0.1"}


class GateTest(unittest.TestCase):

    def run_gate(self, sessions, baseline):
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for i, s in enumerate(sessions, 1):
                paths.append(os.path.join(d, f"s{i}.json"))
                with open(paths[-1], "w") as f:
                    json.dump(s, f)
            base = os.path.join(d, "base.json")
            with open(base, "w") as f:
                json.dump(baseline, f)
            out = os.path.join(d, "out.json")
            p = subprocess.run([sys.executable, GATE, out, base, *paths],
                               capture_output=True, text=True)
            rec = json.load(open(out)) if p.returncode == 0 else None
            return p, rec

    BASE = {"sf_dir": "/data/sf0.1", "queries": {"q1": 2.0, "q2": 2.0}}

    def test_key_set_mismatch_fails(self):
        p, _ = self.run_gate([session({"q1": 1.0, "q2": 2.0}),
                              session({"q1": 1.0, "q2": 2.0}),
                              session({"q1": 1.0})], self.BASE)
        self.assertNotEqual(p.returncode, 0)
        self.assertIn("session 3 key-set mismatch: ['q2']", p.stderr)

    def test_failed_line_fails(self):
        p, _ = self.run_gate([session({"q1": 1.0, "q2": 2.0}),
                              session({"q1": -1.0, "q2": 2.0}),
                              session({"q1": 1.0, "q2": 2.0})], self.BASE)
        self.assertNotEqual(p.returncode, 0)
        self.assertIn("failed queries: ['q1']", p.stderr)

    def test_median_of_three_and_same_day_ratio(self):
        p, rec = self.run_gate([session({"q1": 1.0, "q2": 4.0}),
                                session({"q1": 3.0, "q2": 2.0}),
                                session({"q1": 2.0, "q2": 9.0})], self.BASE)
        self.assertEqual(p.returncode, 0, p.stderr)
        self.assertEqual(rec["queries"], {"q1": 2.0, "q2": 4.0})
        self.assertEqual(rec["session_totals_sec"], [5.0, 5.0, 11.0])
        self.assertEqual(rec["median_total_sec"], 5.0)
        self.assertEqual(rec["duckdb_same_day_total_sec"], 4.0)
        self.assertEqual(rec["ratio_same_day"], 1.25)
        self.assertEqual((rec["sessions"], rec["reps_per_session"]), (3, 3))

    def test_session_count_is_fixed(self):
        p, _ = self.run_gate([session({"q1": 1.0})] * 2, self.BASE)
        self.assertNotEqual(p.returncode, 0)


if __name__ == "__main__":
    unittest.main()
