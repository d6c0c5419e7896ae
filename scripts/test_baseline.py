"""Unit tests for scripts/baseline.py's resume rule, on tiny parquet
tables written with duckdb.

Run: python3 -m unittest discover -s scripts -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

BASELINE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "baseline.py")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ORACLE = {"q1": "SELECT count(*) AS n FROM region",
          "q2": "SELECT x FROM nation ORDER BY x"}


class BaselineResumeTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        d = self.dir.name
        self.sf = os.path.join(d, "sf")
        self.dump = os.path.join(d, "dump")
        os.makedirs(self.sf)
        os.makedirs(self.dump)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"COPY (SELECT range AS x FROM range(3)) TO "
                        f"'{self.sf}/{t}.parquet' (FORMAT PARQUET)")
        con.close()
        with open(os.path.join(self.dump, "oracle_sql.json"), "w") as f:
            json.dump(ORACLE, f)
        self.out = os.path.join(d, "baseline.json")

    def tearDown(self):
        self.dir.cleanup()

    def record(self, seeded):
        """Pre-seed the out file with `seeded`, run the script over it and
        return the file it leaves."""
        with open(self.out, "w") as f:
            json.dump(seeded, f)
        env = dict(os.environ, SPARK_GRAFT_DUCK_MEM="1GB",
                   SPARK_GRAFT_DUCK_TMP=os.path.join(self.dir.name, "tmp"))
        env.pop("SPARK_GRAFT_SKIP_ORACLES", None)
        p = subprocess.run([sys.executable, BASELINE, self.sf, self.dump,
                            self.out], capture_output=True, text=True,
                           env=env, cwd=self.dir.name)
        self.assertEqual(p.returncode, 0, p.stderr)
        with open(self.out) as f:
            return json.load(f)

    def test_completed_file_is_re_recorded(self):
        out = self.record({"sf_dir": self.sf, "engine": "duckdb",
                           "queries": {"q1": 999.0, "q2": 999.0}})
        self.assertEqual(sorted(out["queries"]), ["q1", "q2"])
        self.assertTrue(all(v < 999.0 for v in out["queries"].values()),
                        out["queries"])
        self.assertNotIn("partial", out)

    def test_partial_file_is_resumed(self):
        out = self.record({"sf_dir": self.sf, "partial": True,
                           "queries": {"q1": 999.0}})
        self.assertEqual(out["queries"]["q1"], 999.0)
        self.assertLess(out["queries"]["q2"], 999.0)
        self.assertNotIn("partial", out)

    def test_partial_file_of_another_sf_dir_is_re_recorded(self):
        out = self.record({"sf_dir": "/elsewhere", "partial": True,
                           "queries": {"q1": 999.0}})
        self.assertLess(out["queries"]["q1"], 999.0)
        self.assertEqual(out["sf_dir"], self.sf)


if __name__ == "__main__":
    unittest.main()
