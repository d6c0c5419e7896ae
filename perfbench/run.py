#!/usr/bin/env python3
"""The repository's benchmark. Run from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
      --trace <0|1>

It builds the program from source (perfbench/build.py), writes the
workload's inputs from the seed (perfbench/gen.py), runs one closed-loop
client in one JVM at local[4] (perfbench/scala), checks the outputs, and
prints a summary followed by one JSON line: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("query_sweep", "capture_calibrate")

E2E = [("setup_s", "s"), ("pass_s", "s"), ("op_mean_ms", "ms"),
       ("peak_rss_mb", "MB")]

PER_LAYER = [
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.task_s", "s"),
    ("spark.task_cpu_s", "s"), ("spark.core_busy", "ratio"),
    ("spark.gc_s", "s"), ("spark.sched_wait_s", "s"),
    ("spark.codegen_compiles", "count"), ("spark.codegen_s", "s"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.spill_disk_mb", "MB"), ("spark.peak_exec_mem_mb", "MB"),
    ("spark.task_skew", "ratio"), ("client.driver_s", "s"),
    ("client.engine_s", "s")]

# One declared query per family (a j w so x g t sim em px s p), the
# cheaper ones at this scale, so that every run times several passes.
QUERIES = [
    "a6_counts", "j1_bucketed", "w2_gap_sessions", "so1_intersect",
    "x9_project_points", "g1_pose_grid", "t1_token_stats", "sim3_ivf_topk",
    "em1_slice_closest_pair", "px2_chessboard_detect", "s2_glob_scan",
    "p1_suffix_filter",
]
SWEEP_SF = 0.005
STREAM_GROUPS = 150
STREAM_CHUNKS = 6

FIXTURES = "src/test/resources/fixtures"
JVM_TIMEOUT_S = 165
SPARK_JARS = build.SPARK_JARS
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def make_inputs(root, workload, seed, inp):
    """Writes the workload's inputs under `inp`; returns what the checks
    expect, for the summary."""
    if workload == "query_sweep":
        gen.gen_corpus(os.path.join(inp, "corpus"), seed, SWEEP_SF)
        with open(os.path.join(inp, "queries.txt"), "w") as f:
            f.write("\n".join(QUERIES) + "\n")
        return {"queries": len(QUERIES), "sf": SWEEP_SF}
    out = os.path.join(inp, workload)
    t = gen.gen_calib(out, seed, os.path.join(root, FIXTURES))
    e = gen.gen_stream(out, seed, STREAM_GROUPS, STREAM_CHUNKS)
    return {"poses": t["poses"], "corners": t["corners"], **e}


def run_jvm(root, classes, args, run_dir, record):
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_BUCKET_DIR"] = os.path.join(run_dir, "bucketed")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:+UseParallelGC", "-Xms6g", "-Xmx6g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS +
           ["-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Harness",
            args.workload, str(args.seed), str(args.seconds),
            str(args.trace), os.path.join(run_dir, "input"), run_dir,
            record])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=lf,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(record):
        with open(log) as lf:
            tail = lf.read()[-4000:]
        sys.stderr.write(tail)
        raise SystemExit(f"benchmark JVM failed: {rc}")


def oracle_checks(rec):
    """Row count and content digest of every dumped query output against
    its DuckDB oracle on the same generated tables."""
    import duckdb
    corpus = os.path.join(os.path.dirname(rec["outputs_dir"]), "input",
                          "corpus")
    results = []
    for name, sql in rec["oracle_sql"].items():
        out = os.path.join(rec["outputs_dir"], name)
        con = duckdb.connect()
        try:
            for t in gen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{corpus}/{t}.parquet'")
            want = stats.digest(con, sql)
            got = stats.digest(con, f"SELECT * FROM '{out}/*.parquet'")
            ok = want == got
            detail = f"rows {got[0]}/{want[0]}" + (
                "" if ok else f" digest {got[1]} vs {want[1]}")
        except Exception as e:  # a missing dump or a broken oracle
            ok, detail = False, f"error: {e}"
        finally:
            con.close()
        results.append({"name": name, "ok": ok, "detail": detail})
    return results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    classes = build.build(root)
    run_dir = os.path.join(root, build.BUILD_DIR, "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    rec_dir = os.path.join(root, build.BUILD_DIR, "records")
    os.makedirs(rec_dir, exist_ok=True)
    record = os.path.join(
        rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.perf_counter()
        expect = make_inputs(root, args.workload, args.seed,
                             os.path.join(run_dir, "input"))
        gen_s = time.perf_counter() - t0
        run_jvm(root, classes, args, run_dir, record)
        with open(record) as f:
            rec = json.load(f)
        checks = rec["checks"]
        attempted, failed = rec["attempted"], rec["failed"]
        if args.workload == "query_sweep":
            oc = oracle_checks(rec)
            checks += oc
            attempted += len(oc)
            failed += sum(not c["ok"] for c in oc)
        ops = rec["op_s"]
        rec["op_mean_ms"] = 1000 * sum(ops) / len(ops)
        tail = stats.tail_percentile(len(ops))
        rec["ops"] = {"n": len(ops), "p50_ms": 1000 * stats.quantile(ops, .5),
                      "tail_pct": tail, "tail_ms": (
            1000 * stats.quantile(ops, tail / 100) if tail else None)}
        rec["checks"] = checks
        rec["gen_s"] = gen_s
        rec["expect"] = expect
        with open(record, "w") as f:
            json.dump(rec, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    report(args, rec, attempted, failed)


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def report(args, rec, attempted, failed):
    w = args.workload
    bad = [c for c in rec["checks"] if not c["ok"]]
    for c in bad:
        print(f"CHECK FAILED {w} {c['name']}: {c['detail']}")
    ops = rec["ops"]
    print(f"== {w} seed={args.seed} trace={args.trace} "
          f"checks={len(rec['checks']) - len(bad)}/{len(rec['checks'])} "
          f"ops={ops['n']} p50={fmt(ops['p50_ms'])} ms "
          f"tail=p{fmt(ops['tail_pct'])} ({fmt(ops['tail_ms'])} ms)")
    for name, unit in E2E:
        print(f"  {name:<24} {fmt(rec[name]):>12} {unit}")
    extra = dict(rec["details"])
    for k in ("ingest_s", "index_s", "state_write_mb", "events"):
        if k in rec:
            extra[k] = rec[k]
    extra["failed_ratio"] = failed / attempted
    extra["gen_s"] = rec["gen_s"]
    extra["host.probe_s.start"] = rec["host_probe_s"]["start"]
    extra["host.probe_s.end"] = rec["host_probe_s"]["end"]
    for k, v in extra.items():
        print(f"  {k:<24} {fmt(v):>12}")
    if args.trace:
        for k, v in sorted(rec["layers"].items()):
            print(f"  layer {k:<34} {fmt(v):>12}")
        for k, v in sorted(rec["module_layers"].items()):
            print(f"  layer {k:<34} {fmt(v):>12}")
        for k, v in sorted(rec["span_counts"].items()):
            print(f"  span {k:<35} jobs={v['jobs']} task_s={fmt(v['task_s'])}")
        o = rec["trace_overhead"]
        print(f"  tracing overhead: pass_s {fmt(o['pass_s_untraced'])} s "
              f"untraced vs {fmt(o['pass_s_traced'])} s traced "
              f"({o['overhead_pct']:+.1f}%)")
        metrics = {n: {"value": rec["layers"][n], "unit": u}
                   for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": rec[n], "unit": u} for n, u in E2E}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
