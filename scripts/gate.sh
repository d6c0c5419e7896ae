#!/usr/bin/env bash
# The sf0.1 gate (dev tooling only — not part of the shipped library):
# three full graft.Bench sessions at Bench's default corpus (the sf0.1
# testdata), a same-day DuckDB baseline there, and scripts/gate.py's
# per-query median of the sessions with ratio_same_day = median total /
# DuckDB total.
#
#   scripts/gate.sh <out.json>
#
# Session lines, logs and the same-day baseline land in scratch/gate/.
# Env: SPARK_GRAFT_CPUS (default: every core), SPARK_DRIVER_MEM
# (default: half the RAM, set in build.sbt).
set -euo pipefail
cd "$(dirname "$0")/.."

OUT="${1:?usage: scripts/gate.sh <out.json>}"
WORK=scratch/gate
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
rm -rf "${WORK}"
mkdir -p "${WORK}"
unset SPARK_GRAFT_SF_DIR

for i in 1 2 3; do
  echo "== [gate $(date +%T)] bench session $i/3 =="
  SPARK_GRAFT_BENCH_OUT="${WORK}/s$i.json" \
    sbt -batch "runMain graft.Bench" > "${WORK}/s$i.log" 2>&1 \
    || { echo "Bench session $i failed, see ${WORK}/s$i.log" >&2; exit 1; }
done

# baseline.py needs oracle_sql.json with the sessions' paths: a
# one-query Verify dump writes it (the json always carries every oracle)
echo "== [gate $(date +%T)] same-day DuckDB baseline =="
SF=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["sf"])' \
  "${WORK}/s1.json")
sbt -batch "runMain graft.Verify ${SF} ${WORK}/verify p6_derived_key" \
  > "${WORK}/verify.log" 2>&1 \
  || { echo "Verify failed, see ${WORK}/verify.log" >&2; exit 1; }
python3 scripts/baseline.py "${SF}" "${WORK}/verify" \
  "${WORK}/baseline_sameday.json" > "${WORK}/baseline.log" 2>&1 \
  || { echo "baseline.py failed, see ${WORK}/baseline.log" >&2; exit 1; }

python3 scripts/gate.py "${OUT}" "${WORK}/baseline_sameday.json" \
  "${WORK}/s1.json" "${WORK}/s2.json" "${WORK}/s3.json"
echo "== [gate $(date +%T)] ${OUT} written =="
