"""Self-tests of the benchmark's own logic (no Spark needed):

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_above(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(99), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_quantile_interpolates(self):
        self.assertEqual(stats.quantile([3, 1, 2], 0.5), 2)
        self.assertEqual(stats.quantile([1, 2, 3, 4], 0.5), 2.5)
        self.assertAlmostEqual(stats.quantile(range(11), 0.9), 9.0)


class NameGrammar(unittest.TestCase):
    def test_names(self):
        for ok in ("setup_s", "op_p50_ms", "spark.task_s", "0x", "a-b.c_d"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, "é"):
            self.assertFalse(stats.valid_name(bad), bad)

    def test_units(self):
        for ok in ("s", "ms", "1/s", "%", "count", "MB"):
            self.assertTrue(stats.valid_unit(ok), ok)
        for bad in ("", "m s", "x" * 17, "s^2"):
            self.assertFalse(stats.valid_unit(bad), bad)

    def test_benchmark_json_follows_the_grammar(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        names = [w["name"] for w in b["workloads"]]
        for m in b["end_to_end"] + b["per_layer"]:
            names.append(m["name"])
            self.assertTrue(stats.valid_unit(m["unit"]), m)
            self.assertIn(m["better"], ("lower", "higher"))
        for m in b["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertTrue(all(stats.valid_name(n) for n in names), names)
        self.assertEqual(len(names), len(set(names)))
        import run
        self.assertEqual([w["name"] for w in b["workloads"]],
                         list(run.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         run.E2E)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         run.PER_LAYER)


class Digest(unittest.TestCase):
    def setUp(self):
        import duckdb
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE TABLE t AS SELECT range AS id, range * 0.5 AS v, "
            "'r' || range AS s FROM range(1000)")

    def tearDown(self):
        self.con.close()

    def test_one_changed_row_changes_the_digest(self):
        base = stats.digest(self.con, "SELECT * FROM t")
        changed = stats.digest(
            self.con, "SELECT id, CASE WHEN id = 617 THEN v + 1e-9 ELSE v "
                      "END AS v, s FROM t")
        self.assertEqual(base[0], changed[0])
        self.assertNotEqual(base[1], changed[1])

    def test_dropped_or_duplicated_row_changes_the_digest(self):
        base = stats.digest(self.con, "SELECT * FROM t")
        dropped = stats.digest(self.con, "SELECT * FROM t WHERE id <> 3")
        dup = stats.digest(
            self.con, "SELECT * FROM t WHERE id <> 3 UNION ALL "
                      "SELECT * FROM t WHERE id = 4")
        self.assertNotEqual(base, dropped)
        self.assertEqual(base[0], dup[0])
        self.assertNotEqual(base[1], dup[1])

    def test_order_column_order_and_int_width_do_not_matter(self):
        base = stats.digest(self.con, "SELECT * FROM t")
        other = stats.digest(
            self.con, "SELECT s, CAST(id AS INTEGER) AS id, "
                      "CAST(v AS DECIMAL(10, 1)) AS v FROM t ORDER BY id DESC")
        self.assertEqual(base, other)


if __name__ == "__main__":
    unittest.main()
