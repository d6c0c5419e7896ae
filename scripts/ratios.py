#!/usr/bin/env python3
"""Write the spark/duckdb ratio fields into a bench JSON (dev tooling
only — not part of the shipped library).

graft.Bench only measures: its full line carries per-query seconds and
no ratios. This script is the one place a bench line is divided by a
DuckDB baseline (scripts/baseline.py), so the baseline should be one
recorded on the same box as the bench; scripts/scalepoint.sh passes the
one it has just recorded. Fields written:
  baseline_sec         sum of every baseline query's seconds
  vs_baseline_total    Σ spark / Σ duckdb over the common queries
  real_work            {n, spark_sec, duckdb_sec, ratio} over common
  floor_dominated        queries whose DuckDB time is >= / < 0.1 s
                       (a bucket with no queries is omitted)
  vs_baseline          per-query spark / duckdb
  vs_baseline_geomean  geometric mean of the per-query ratios
A common query has a bench time >= 0 (a failed query is -1) and a
baseline time > 0. Every ratio field from an earlier run is dropped
first, so a rerun against another baseline leaves no stale field.
Timings are never altered.

Usage: python3 scripts/ratios.py BENCH_<tag>.json BASELINE_<tag>.json
"""
import json
import math
import sys

RATIO_KEYS = ("baseline_sec", "vs_baseline_total", "real_work",
              "floor_dominated", "vs_baseline", "vs_baseline_geomean")


def main():
    bench_path, base_path = sys.argv[1], sys.argv[2]
    bench = json.load(open(bench_path))
    base = json.load(open(base_path))["queries"]
    rows = [(k, v, base[k]) for k, v in bench["queries"].items()
            if v >= 0 and base.get(k, 0) > 0]
    if not rows:
        sys.exit(f"no common queries between {bench_path} and {base_path}")
    for k in RATIO_KEYS:
        bench.pop(k, None)
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
