#!/usr/bin/env bash
# One-command scale-point evidence trail (dev tooling only — not part of
# the shipped library): datagen -> bench -> check -> baseline.
#
#   scripts/scalepoint.sh [sfDir] [mult] [tag]
#
# e.g. scripts/scalepoint.sh scratch/sf1 10 sf1 (the defaults). The
# corpus is `mult` x SPARK_GRAFT_SRC_SF (default: the sf0.1 testdata).
#
# Skips come from the table below, keyed on mult. They are single-node
# ORACLE limits (DuckDB time, memory or temp disk), each covered by a
# deterministic-slice twin (t6_slice, em1_slice, ...) that IS checked at
# that scale, plus full rows at smaller points. The rationale per query
# lives in the chain scripts that recorded the committed points
# (sf10chain.sh, sf30chain_r17.sh, sf100chain.sh, rebench_sf100_r20.sh;
# git history has them at 42aa807). A caller's SPARK_GRAFT_SKIP_ORACLES
# or SPARK_GRAFT_SKIP_QUERIES, when set (even to empty), replaces the
# table's list for every stage it applies to.
#
# The check stage is scripts/scalepass.sh (batched dump -> check ->
# delete; it resumes, and keeps only failed dumps), in batches of the
# whole query list below 100x, 4 from 100x and 1 from 1000x, as the
# chain scripts ran it. From 300x the bench runs SPARK_GRAFT_REPS=1
# (default) and the bench JVM gets -Dspark.cleaner.periodicGC.interval=60s:
# the 30-min default let ~56 GB of dead shuffle files pile up over an
# hour-long sweep.
#
# Stage ORDER is artifact-first: the Spark bench (~minutes) runs BEFORE
# both DuckDB stages (each ~hours at sf10+). Bench only measures; once
# the baseline stage has recorded BASELINE_<tag>.json on this box (a
# file of that name already in the root is overwritten, not resumed),
# scripts/ratios.py writes the vs_baseline_* fields into BENCH_<tag>.json
# from it, on every run, replacing any ratios already in the file. Each
# stage drops a .done_<stage> marker in scratch/scalepoint_<tag>/;
# re-running skips completed stages (delete the marker dir, or run with
# SPARK_GRAFT_FORCE=1, to redo from scratch).
#
# Produces, in the repo root:
#   BENCH_<tag>.json     — graft.Bench's full line plus the vs_baseline_*
#                          fields against BASELINE_<tag>.json
#   BASELINE_<tag>.json  — DuckDB per-query wall seconds at <sfDir>
# and leaves oracle_sql.json, scalepass_results.txt and any failed
# query's dump in scratch/verify_<tag>/. Fails fast (set -e) if any
# stage — including the correctness sweep — does not pass.
set -euo pipefail
cd "$(dirname "$0")/.."

SF_DIR="${1:-scratch/sf1}"
MULT="${2:-10}"
TAG="${3:-sf1}"
SRC="${SPARK_GRAFT_SRC_SF:-/root/testdata/sf0.1}"
VERIFY_DIR="scratch/verify_${TAG}"
MARK_DIR="scratch/scalepoint_${TAG}"
# every core (the JVM heap defaults to half the RAM in build.sbt)
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"

# Table keyed on mult. Skips by stage: ORACLES for the check, QUERIES
# for the Spark dumps (each must be in ORACLES too, or check.py fails
# on the missing dump), BASE for the baseline and BENCH for Bench.
# Below 1000x the baseline skips ORACLES and Bench skips QUERIES.
# BATCH is the check's scalepass batch size (999: every query in one).
ORACLES="" QUERIES="" BATCH=999
if [ "${MULT}" -ge 1000 ]; then
  ORACLES="em1_blocked_closest_pair,em2_cosine_near_dup,em3_ivf_closest_pair,s3_binary_meta,t6_near_dup_candidates,t7_simhash,t8_jaccard_verify,t10_winnow_fp,t11_simhash_near_dup,sim3_ivf_topk,w10_gap_sessions_faithful,x17_hdr_merge,x7_euler_rotation,x8_rodrigues,x14_se3_inverse"
  QUERIES="w10_gap_sessions_faithful,x17_hdr_merge,x7_euler_rotation,x8_rodrigues,x14_se3_inverse"
  BASE="em1_blocked_closest_pair,em2_cosine_near_dup,em3_ivf_closest_pair,s3_binary_meta,t6_near_dup_candidates,t7_simhash,t8_jaccard_verify,t10_winnow_fp,t11_simhash_near_dup,sim3_ivf_topk,x17_hdr_merge,x7_euler_rotation,x8_rodrigues,x14_se3_inverse"
  BENCH="w10_gap_sessions_faithful,em1_blocked_closest_pair,em2_cosine_near_dup,x7_euler_rotation,x8_rodrigues,x14_se3_inverse"
  BATCH=1
elif [ "${MULT}" -ge 300 ]; then
  ORACLES="em1_blocked_closest_pair,em2_cosine_near_dup,em3_ivf_closest_pair,t6_near_dup_candidates,t7_simhash,t8_jaccard_verify,t10_winnow_fp,t11_simhash_near_dup,s3_binary_meta,sim3_ivf_topk"
  BATCH=4
elif [ "${MULT}" -ge 100 ]; then
  ORACLES="em1_blocked_closest_pair,em2_cosine_near_dup,em3_ivf_closest_pair,t7_simhash,t11_simhash_near_dup"
  BATCH=4
fi
if [ "${MULT}" -lt 1000 ]; then BASE="${ORACLES}" BENCH="${QUERIES}"; fi
if [ -n "${SPARK_GRAFT_SKIP_ORACLES+set}" ]; then
  ORACLES="${SPARK_GRAFT_SKIP_ORACLES}" BASE="${SPARK_GRAFT_SKIP_ORACLES}"
fi
if [ -n "${SPARK_GRAFT_SKIP_QUERIES+set}" ]; then
  QUERIES="${SPARK_GRAFT_SKIP_QUERIES}" BENCH="${SPARK_GRAFT_SKIP_QUERIES}"
fi
# from 100x a query whose warmup run already takes >60 s records that
# one run instead of a median (variance on minute-long scans is small)
if [ "${MULT}" -ge 100 ]; then
  export SPARK_GRAFT_SINGLE_RUN_SEC="${SPARK_GRAFT_SINGLE_RUN_SEC:-60}"
fi
BENCH_ENV=()
if [ "${MULT}" -ge 300 ]; then
  BENCH_ENV=(SPARK_GRAFT_REPS="${SPARK_GRAFT_REPS:-1}"
    JAVA_TOOL_OPTIONS="${JAVA_TOOL_OPTIONS:+${JAVA_TOOL_OPTIONS} }-Dspark.cleaner.periodicGC.interval=60s")
fi

if [ "${SPARK_GRAFT_FORCE:-0}" = "1" ]; then rm -rf "${MARK_DIR}" "${VERIFY_DIR}"; fi
mkdir -p "${MARK_DIR}"
done_stage() { touch "${MARK_DIR}/.done_$1"; }
skip_stage() { [ -f "${MARK_DIR}/.done_$1" ]; }

if [ ! -f "${SF_DIR}/lineitem.parquet" ]; then
  echo "== datagen: ${SRC} x${MULT} -> ${SF_DIR} =="
  python3 scripts/datagen.py "${SRC}" "${SF_DIR}" "${MULT}"
else
  echo "== datagen: ${SF_DIR} already present, skipping =="
fi

if skip_stage bench; then
  echo "== bench: done marker present, skipping =="
else
  echo "== bench: graft.Bench -> BENCH_${TAG}.json =="
  # the full line from the file Bench writes: its LAST stdout line is a
  # short summary without "queries"
  rm -f "${MARK_DIR}/bench.json"
  env SPARK_GRAFT_SF_DIR="${SF_DIR}" SPARK_GRAFT_SKIP_QUERIES="${BENCH}" \
    SPARK_GRAFT_BENCH_OUT="${MARK_DIR}/bench.json" "${BENCH_ENV[@]}" \
    sbt "runMain graft.Bench"
  test -s "${MARK_DIR}/bench.json" || { echo "bench wrote no line" >&2; exit 1; }
  cp "${MARK_DIR}/bench.json" "BENCH_${TAG}.json"
  done_stage bench
fi

if skip_stage check; then
  echo "== check: done marker present, skipping =="
else
  echo "== check: scalepass sweep, batch ${BATCH} (must be all-pass; re-run resumes) =="
  SPARK_GRAFT_SKIP_ORACLES="${ORACLES}" SPARK_GRAFT_SKIP_QUERIES="${QUERIES}" \
    scripts/scalepass.sh "${SF_DIR}" "${VERIFY_DIR}" "${BATCH}"
  done_stage check
fi

if skip_stage baseline; then
  echo "== baseline: done marker present, skipping =="
else
  echo "== baseline: recording DuckDB wall times -> BASELINE_${TAG}.json =="
  # recorded in the marker dir and copied when complete: baseline.py
  # resumes a partial file at its output path with the same sf_dir, so an
  # interrupted run resumes here, while a BASELINE_<tag>.json already in
  # the root (from another box or day) is never taken as recorded
  SPARK_GRAFT_SKIP_ORACLES="${BASE}" \
    python3 scripts/baseline.py "${SF_DIR}" "${VERIFY_DIR}" "${MARK_DIR}/baseline.json"
  cp "${MARK_DIR}/baseline.json" "BASELINE_${TAG}.json"
  done_stage baseline
fi

# ratios against the baseline the stage above recorded; on every run, so
# a re-run replaces whatever ratios BENCH_<tag>.json carried before
python3 scripts/ratios.py "BENCH_${TAG}.json" "BASELINE_${TAG}.json"

echo "== done: BENCH_${TAG}.json + BASELINE_${TAG}.json =="
