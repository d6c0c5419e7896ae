#!/usr/bin/env python3
"""Record the DuckDB single-node baseline (dev tooling only — not part of
the shipped library): run each oracle SQL from a Verify dump's
oracle_sql.json in DuckDB against the sf parquet tables, time it, and
write per-query wall seconds to BASELINE_local.json. scripts/ratios.py
divides a bench line by that file and scripts/gate.py uses it as the
gate's denominator, so it should be recorded on the box that runs the
bench.

Usage: python3 scripts/baseline.py <sfDir> <verifyOutDir> [outJson]

Env:
  SPARK_GRAFT_SKIP_ORACLES     — comma-separated query names to skip
                                 (O(n^2) oracles at huge scale points).
  SPARK_GRAFT_SINGLE_RUN_SEC   — if the first (warmup) run of a query
                                 exceeds this many seconds, record that
                                 run's time and move on instead of the
                                 usual warm best-of-2 (variance on
                                 minutes-long scans is small; re-running
                                 them triples the wall cost). Default 30.
"""
import json
import os
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    out_json = sys.argv[3] if len(sys.argv) > 3 else "BASELINE_local.json"
    con = duckdb.connect()
    # bound DuckDB and give it a spill path: without a limit the big
    # scale-point oracles run the box out of memory
    con.execute(f"SET memory_limit='"
                f"{os.environ.get('SPARK_GRAFT_DUCK_MEM', '70GB')}'")
    # spill path + HARD spill cap (same knobs as check.py): one oracle
    # must not be able to blow the box's disk budget — past the cap it
    # raises, is recorded as a per-query SKIP below, and the (resumable,
    # per-query-checkpointed) record keeps going.
    duck_tmp = os.environ.get("SPARK_GRAFT_DUCK_TMP", "scratch/duck_tmp")
    os.makedirs(duck_tmp, exist_ok=True)
    con.execute(f"SET temp_directory='{duck_tmp}'")
    con.execute(f"SET max_temp_directory_size='"
                f"{os.environ.get('SPARK_GRAFT_DUCK_TMP_CAP', '40GB')}'")
    for t in TABLES:
        p_ = f"{sf_dir}/{t}.parquet"
        pat = f"{p_}/*.parquet" if os.path.isdir(p_) else p_
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{pat}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    skip = {s for s in os.environ.get(
        "SPARK_GRAFT_SKIP_ORACLES", "").split(",") if s}
    single_run_sec = float(os.environ.get("SPARK_GRAFT_SINGLE_RUN_SEC", "30"))
    times = {}
    # Resume: a baseline record at a big scale point is hours of DuckDB
    # wall time; write the JSON after EVERY query, marked "partial" until
    # the final write, and skip queries already recorded in a PARTIAL
    # payload for the SAME sf dir, so an interrupted run (round boundary,
    # OOM, reboot) strands at most the query in flight, not the whole
    # record. A completed file (no mark, e.g. a committed BASELINE_*.json
    # from another box) is re-recorded in full.
    if os.path.exists(out_json):
        try:
            prev = json.load(open(out_json))
            if prev.get("partial") and prev.get("sf_dir") == sf_dir:
                times = dict(prev.get("queries", {}))
                print(f"resuming {out_json}: {len(times)} already recorded")
        except (json.JSONDecodeError, OSError):
            pass

    def write_payload(partial=True):
        payload = {"sf_dir": sf_dir, "engine": "duckdb",
                   "engine_version": duckdb.__version__,
                   "note": "per-query wall seconds, best of 2 after warmup "
                           f"(single cold run if warmup > {single_run_sec:g}"
                           " s), single-threaded-engine defaults; result "
                           "materialized engine-side (CTAS temp table)",
                   "skipped": sorted(skip),
                   "queries": times}
        if partial:
            payload["partial"] = True
        with open(out_json, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)

    for name, sql in sorted(oracle.items()):
        if name in times:
            print(f"{name}: already recorded ({times[name]} s)")
            continue
        if name in skip:
            print(f"{name}: SKIP (SPARK_GRAFT_SKIP_ORACLES)")
            continue
        # warm once (page cache, catalog), then time the better of 2 runs;
        # if even the warmup exceeds single_run_sec, its own (cold) time
        # stands — variance on minutes-long scans is small, and a cold run
        # can only overstate the DuckDB time it is credited with.
        # Materialize INSIDE DuckDB (CTAS into a temp table), not
        # fetchall(): building python tuples for a 180M-row result is
        # untimed-engine overhead and OOM-killed the recorder at sf30
        # (130 GB of tuples for one query); CTAS still forces every
        # column to be computed and stored, engine-side, under the
        # memory limit + spill path.
        def run():
            t0 = time.perf_counter()
            con.execute("DROP TABLE IF EXISTS _basetmp")
            con.execute(f"CREATE TEMP TABLE _basetmp AS ({sql})")
            return time.perf_counter() - t0
        try:
            warm_dt = run()
            if warm_dt > single_run_sec:
                times[name] = round(warm_dt, 4)
                print(f"{name}: {times[name]} s (single cold run)")
                write_payload()
                continue
            best = min(run() for _ in range(2))
            times[name] = round(best, 4)
            print(f"{name}: {times[name]} s")
            write_payload()
        except Exception as e:
            print(f"{name}: SKIP ({e})", file=sys.stderr)
        finally:
            con.execute("DROP TABLE IF EXISTS _basetmp")
    write_payload(partial=False)
    print(f"wrote {out_json} ({len(times)} queries)")


if __name__ == "__main__":
    main()
