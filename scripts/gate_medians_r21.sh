#!/bin/bash
# Round-20: a medians-based sf0.1 gate record (verdict r19 next-round #4).
# The driver's BENCH_r{N}.json is already a per-query median of 3 WITHIN
# one session, but the session-level total still drifted 27.9 -> 29.6 ->
# 36.0 s across rounds on an unchanged surface — day-level machine state,
# which a single session cannot median away. This runs THREE full Bench
# sessions (median of session totals) and re-records the DuckDB
# denominator the same day, so round-over-round readers get one
# day-normalized ratio instead of a raw total measured on an unknown day.
# Output: BENCH_r21_medians.json.
set -uo pipefail
cd /root/repo
mkdir -p scratch

for i in 1 2 3; do
  echo "== [gate r21 $(date +%T)] bench session $i/3 =="
  env SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
      SPARK_GRAFT_CPUS=32 SPARK_DRIVER_MEM=48g \
      SPARK_GRAFT_BENCH_OUT="scratch/gate_r21_s$i.json" \
      sbt -batch "runMain graft.Bench" \
      > "scratch/gate_r21_s$i.log" 2>&1 || {
        echo "Bench session $i failed" >&2; exit 1; }
done

# same-day DuckDB denominator: oracle_sql.json with sf0.1 paths comes
# from a single-query Verify dump (the json always carries ALL oracles)
echo "== [gate r21 $(date +%T)] same-day duckdb baseline =="
sbt -batch "runMain graft.Verify /root/testdata/sf0.1 /tmp/v20_sf01 p6_derived_key" \
    > scratch/gate_r21_verify.log 2>&1 || { echo "Verify failed" >&2; exit 1; }
rm -f scratch/baseline_sameday_r21.json
python3 scripts/baseline.py /root/testdata/sf0.1 /tmp/v20_sf01 \
    scratch/baseline_sameday_r21.json \
    > scratch/gate_r21_baseline.log 2>&1 || {
      echo "baseline.py failed" >&2; exit 1; }

python3 - <<'EOF'
import json
sessions = []
for i in (1, 2, 3):
    with open(f"scratch/gate_r21_s{i}.json") as f:
        sessions.append(json.load(f))
totals = sorted(s["value"] for s in sessions)
med_total = totals[1]
base = json.load(open("scratch/baseline_sameday_r21.json"))
base_total = sum(base["queries"].values())
# per-query median-of-sessions (each session value is itself a median
# of 3 reps -> 9 runs per query inform this number)
names = sessions[0]["queries"].keys()
perq = {}
for n in names:
    vals = sorted(s["queries"].get(n, -1.0) for s in sessions)
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
             "should compare ratio_same_day, not raw totals."),
    "queries": perq,
}
with open("BENCH_r21_medians.json", "w") as f:
    json.dump(out, f, indent=1)
print(json.dumps({k: v for k, v in out.items() if k != "queries"}, indent=1))
EOF
echo "== [gate r21 $(date +%T)] BENCH_r21_medians.json written =="
