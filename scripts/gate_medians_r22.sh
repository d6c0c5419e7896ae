#!/bin/bash
# Round-22: the day-normalized sf0.1 gate record (same methodology as
# r20/r21: three full Bench sessions, per-query median-of-sessions, plus
# a same-day DuckDB denominator so round-over-round readers compare
# ratio_same_day, never raw totals). r21 ADVICE fix: assert all three
# sessions report the SAME query key set before computing medians — a
# partially-failed session must fail loudly, not skew the medians with
# silent -1 substitutions.
# Output: BENCH_r22_medians.json.
set -uo pipefail
cd /root/repo
mkdir -p scratch

for i in 1 2 3; do
  echo "== [gate r22 $(date +%T)] bench session $i/3 =="
  env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
      SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g \
      SPARK_GRAFT_BENCH_OUT="scratch/gate_r22_s$i.json" \
      sbt -batch "runMain graft.Bench" \
      > "scratch/gate_r22_s$i.log" 2>&1 || {
        echo "Bench session $i failed" >&2; exit 1; }
done

# same-day DuckDB denominator: oracle_sql.json with sf0.1 paths comes
# from a single-query Verify dump (the json always carries ALL oracles)
echo "== [gate r22 $(date +%T)] same-day duckdb baseline =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/v22_sf01 p6_derived_key" \
    > scratch/gate_r22_verify.log 2>&1 || { echo "Verify failed" >&2; exit 1; }
rm -f scratch/baseline_sameday_r22.json
python3 scripts/baseline.py /root/testdata/sf0.1 /tmp/v22_sf01 \
    scratch/baseline_sameday_r22.json \
    > scratch/gate_r22_baseline.log 2>&1 || {
      echo "baseline.py failed" >&2; exit 1; }

python3 - <<'EOF'
import json, sys
sessions = []
for i in (1, 2, 3):
    with open(f"scratch/gate_r22_s{i}.json") as f:
        sessions.append(json.load(f))
# r21 ADVICE: a session missing (or gaining) queries invalidates the
# medians — fail loudly instead of substituting sentinels.
keysets = [frozenset(s["queries"]) for s in sessions]
if len(set(keysets)) != 1:
    for i, ks in enumerate(keysets, 1):
        others = set().union(*(k for j, k in enumerate(keysets) if j != i - 1))
        diff = sorted(others ^ set(ks))
        if diff:
            print(f"session {i} key-set mismatch: {diff}", file=sys.stderr)
    sys.exit("gate sessions disagree on the query key set")
failed = sorted(n for s in sessions for n, v in s["queries"].items() if v < 0)
if failed:
    sys.exit(f"gate sessions contain failed queries: {sorted(set(failed))}")
totals = sorted(s["value"] for s in sessions)
med_total = totals[1]
base = json.load(open("scratch/baseline_sameday_r22.json"))
base_total = sum(base["queries"].values())
# per-query median-of-sessions (each session value is itself a median
# of 3 reps -> 9 runs per query inform this number)
names = sessions[0]["queries"].keys()
perq = {}
for n in names:
    vals = sorted(s["queries"][n] for s in sessions)
    perq[n] = round(vals[1], 3)
out = {
    "metric": "sf0.1_gate_medians",
    "sf": "/root/testdata/sf0.1",
    "sessions": 3, "reps_per_session": 3,
    "session_totals_sec": [round(t, 2) for t in totals],
    "median_total_sec": round(med_total, 2),
    "duckdb_same_day_total_sec": round(base_total, 2),
    "ratio_same_day": round(med_total / base_total, 3),
    "note": ("median of 3 full Bench sessions (each already a per-query "
             "median of 3 reps); duckdb denominator re-recorded the same "
             "day with scripts/baseline.py. Round-over-round readers "
             "should compare ratio_same_day, not raw totals. r22: "
             "sessions are key-set-checked (a partial session fails the "
             "gate instead of skewing it); sim3_index_build is measured "
             "after the machinery warmup (see OPTIMIZATION_r22.md) and "
             "bucketed_ingest includes the layout read-through."),
    "queries": perq,
}
with open("BENCH_r22_medians.json", "w") as f:
    json.dump(out, f, indent=1)
print(json.dumps({k: v for k, v in out.items() if k != "queries"}, indent=1))
EOF
echo "== [gate r22 $(date +%T)] BENCH_r22_medians.json written =="
