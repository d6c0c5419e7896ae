#!/usr/bin/env python3
"""Patch vs_baseline ratio fields into a BENCH_<tag>.json (dev tooling
only — not part of the shipped library).

graft.Bench computes spark/duckdb ratios in-JVM when the baseline file
already exists. A brand-new scale point runs artifact-first — the Spark
bench lands BEFORE the multi-hour DuckDB baseline re-record — so its
bench JSON has raw seconds but no ratios. This script recomputes the
ratio fields from the two files using exactly the formulas of the ratio
block in Bench.main (`ratios`/`ratioPart`): per-query ratio,
total-vs-total over the common queries, geomean, and the real_work /
floor_dominated buckets split at a 0.1 s oracle time. Timings are never
altered — only derived ratios.

Usage: python3 scripts/ratios.py BENCH_<tag>.json BASELINE_<tag>.json
"""
import json
import math
import sys


def main():
    bench_path, base_path = sys.argv[1], sys.argv[2]
    bench = json.load(open(bench_path))
    base = json.load(open(base_path))["queries"]
    rows = [(k, v, base[k]) for k, v in bench["queries"].items()
            if v >= 0 and base.get(k, 0) > 0]
    if not rows:
        sys.exit(f"no common queries between {bench_path} and {base_path}")
    bench["baseline_sec"] = round(sum(base.values()), 2)
    bench["vs_baseline_total"] = round(
        sum(r[1] for r in rows) / sum(r[2] for r in rows), 3)
    for tag, sel in (("real_work", [r for r in rows if r[2] >= 0.1]),
                     ("floor_dominated", [r for r in rows if r[2] < 0.1])):
        if sel:
            ts, tb = sum(r[1] for r in sel), sum(r[2] for r in sel)
            bench[tag] = {"n": len(sel), "spark_sec": round(ts, 2),
                          "duckdb_sec": round(tb, 2),
                          "ratio": round(ts / tb, 3)}
    bench["vs_baseline"] = {k: round(v / b, 3) for k, v, b in rows}
    bench["vs_baseline_geomean"] = round(
        math.exp(sum(math.log(v / b) for _, v, b in rows) / len(rows)), 3)
    with open(bench_path, "w") as f:
        json.dump(bench, f, separators=(",", ":"))
        f.write("\n")
    print(f"patched {bench_path}: {len(rows)} ratio'd queries, "
          f"total {bench['vs_baseline_total']}x, "
          f"geomean {bench['vs_baseline_geomean']}")


if __name__ == "__main__":
    main()
