#!/usr/bin/env python3
"""Fold three graft.Bench sessions and a same-day DuckDB baseline into
the sf0.1 gate record (dev tooling only — not part of the shipped
library; scripts/gate.sh runs the sessions and calls this).

The record carries the per-query median of the sessions (each session
value is itself a median of its reps), the median session total, and
`ratio_same_day` = median total / same-day DuckDB total. Readers
compare ratio_same_day across days, never raw totals.

A session whose query key set differs from the others, or that holds a
failed (-1) line, fails the gate loudly instead of skewing the medians.

Usage: python3 scripts/gate.py <out.json> <baseline.json> <s1> <s2> <s3>
"""
import json
import statistics
import sys

SESSIONS = 3


def gate(sessions, baseline):
    """The record for `sessions` (Bench lines) over `baseline` (a
    baseline.py file); exits non-zero on a key-set mismatch or a
    failed line."""
    keysets = [frozenset(s["queries"]) for s in sessions]
    if len(set(keysets)) != 1:
        for i, ks in enumerate(keysets, 1):
            others = frozenset().union(
                *(k for j, k in enumerate(keysets, 1) if j != i))
            diff = sorted(others ^ ks)
            if diff:
                print(f"session {i} key-set mismatch: {diff}", file=sys.stderr)
        sys.exit("gate sessions disagree on the query key set")
    failed = sorted({n for s in sessions for n, v in s["queries"].items()
                     if v < 0})
    if failed:
        sys.exit(f"gate sessions contain failed queries: {failed}")
    totals = sorted(s["value"] for s in sessions)
    med_total = statistics.median(totals)
    base_total = sum(baseline["queries"].values())
    return {
        "metric": "sf0.1_gate_medians",
        "sf": sessions[0]["sf"],
        "sessions": len(sessions),
        "reps_per_session": sessions[0]["reps"],
        "session_totals_sec": [round(t, 2) for t in totals],
        "median_total_sec": round(med_total, 2),
        "duckdb_same_day_total_sec": round(base_total, 2),
        "ratio_same_day": round(med_total / base_total, 3),
        "note": ("median of 3 full Bench sessions (each already a "
                 "per-query median of its reps); duckdb denominator "
                 "re-recorded the same day with scripts/baseline.py. "
                 "Compare ratio_same_day, not raw totals."),
        "queries": {n: round(statistics.median(
            s["queries"][n] for s in sessions), 3) for n in sorted(keysets[0])},
    }


def main(argv):
    if len(argv) != 2 + SESSIONS:
        sys.exit(__doc__.strip().splitlines()[-1])
    out_path, base_path, session_paths = argv[0], argv[1], argv[2:]
    sessions = [json.load(open(p)) for p in session_paths]
    out = gate(sessions, json.load(open(base_path)))
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "queries"},
                     indent=1))


if __name__ == "__main__":
    main(sys.argv[1:])
