#!/usr/bin/env bash
# Batched dump -> check -> delete correctness sweep (dev tooling only —
# not part of the shipped library): the standard chain (scalepoint.sh)
# dumps EVERY query's result before the first oracle compare, so a scale
# point whose big results total more than the box's free disk (sf100:
# nine 600M-row dumps ~26 GB each) cannot run it. This orchestrator
# sweeps in batches — one Verify JVM dumps a batch, check.py compares
# it, the batch's dumps are deleted — so peak disk is one batch's dumps,
# independent of the query count.
#
#   SPARK_GRAFT_SKIP_ORACLES=... scripts/scalepass.sh <sfDir> <outDir> [batch]
#
# Env: SPARK_GRAFT_SKIP_ORACLES / SPARK_GRAFT_SKIP_QUERIES as in
# check.py / Verify; SPARK_GRAFT_CPUS (default: every core),
# SPARK_DRIVER_MEM (default: half the RAM, set in build.sbt),
# SPARK_GRAFT_DUCK_MEM for the compare.
# oracle_sql.json persists in <outDir>; per-batch results append to
# <outDir>/scalepass_results.txt, and already-passed queries (recorded
# there) are skipped on re-run, so the sweep is resumable.
#
# Forensics path DRILLED (round 16): a deliberately corrupted t4 oracle
# (dup_count+1) run through this script at sf0.001 exited 1, recorded
# the FAIL line with sample diff rows, and left the Spark-side dump at
# <outDir>/t4_exact_dedup.failed — the keep-failed-dumps branch below
# has now seen a real failure, not just code review.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:?sfDir}"
OUT_DIR="${2:?outDir}"
BATCH="${3:-10}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
# Dump at natural write parallelism: a coalesce(1) dump of a 60M-row
# result is a single-core hour; check.py canonicalizes row order itself.
export SPARK_GRAFT_DUMP_COALESCE="${SPARK_GRAFT_DUMP_COALESCE:-0}"
mkdir -p "${OUT_DIR}"
RESULTS="${OUT_DIR}/scalepass_results.txt"
touch "${RESULTS}"

# Query list = oracle_sql.json keys; produce it with a Verify of ONE
# tiny query (w6: single-row dump at any scale) if missing — Verify
# writes the full oracle map regardless of which queries it dumps.
if [ ! -f "${OUT_DIR}/oracle_sql.json" ]; then
  sbt -batch "runMain graft.Verify ${SF_DIR} ${OUT_DIR} w6_first_int_key" \
    > /dev/null
  rm -rf "${OUT_DIR}/w6_first_int_key"
fi
QUERIES=$(python3 - "$OUT_DIR" <<'EOF'
import json, sys
print("\n".join(sorted(json.load(open(f"{sys.argv[1]}/oracle_sql.json")))))
EOF
)

PENDING=()
for q in ${QUERIES}; do
  if grep -q "^PASS ${q} " "${RESULTS}"; then continue; fi
  case ",${SPARK_GRAFT_SKIP_ORACLES:-}," in
    *",${q},"*) echo "SKIP ${q} (SPARK_GRAFT_SKIP_ORACLES)"; continue;;
  esac
  case ",${SPARK_GRAFT_SKIP_QUERIES:-}," in
    *",${q},"*) echo "SKIP ${q} (SPARK_GRAFT_SKIP_QUERIES)"; continue;;
  esac
  PENDING+=("$q")
done
echo "== scalepass: ${#PENDING[@]} queries pending, batch=${BATCH} =="

FAILED=0
i=0
while [ $i -lt ${#PENDING[@]} ]; do
  batch=("${PENDING[@]:$i:$BATCH}")
  i=$((i + BATCH))
  echo "== batch: ${batch[*]} =="
  sbt -batch "runMain graft.Verify ${SF_DIR} ${OUT_DIR} ${batch[*]}" \
    | grep -E "\[verify\]" || true
  # check.py exits non-zero on any fail; record per-query lines either way
  if python3 scripts/check.py "${SF_DIR}" "${OUT_DIR}" "${batch[@]}" \
      | tee -a "${RESULTS}"; then :; else FAILED=1; fi
  # delete only PASSED queries' dumps; a FAILed dump is the Spark-side
  # evidence needed to debug (an intermittent failure re-dumped on resume
  # is unreproducible) — moved aside so a retry can't half-overwrite it
  for q in "${batch[@]}"; do
    if grep -q "^PASS ${q} " "${RESULTS}"; then
      rm -rf "${OUT_DIR:?}/${q}" "${OUT_DIR:?}/${q}.failed"
    elif [ -e "${OUT_DIR}/${q}" ]; then
      rm -rf "${OUT_DIR:?}/${q}.failed"
      mv "${OUT_DIR}/${q}" "${OUT_DIR}/${q}.failed"
    fi
  done
done

echo "== scalepass done: $(grep -c '^PASS' "${RESULTS}") cumulative pass, \
failed_this_run=${FAILED} =="
exit ${FAILED}
