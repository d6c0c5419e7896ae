#!/usr/bin/env python3
"""Builder-owned scale-point generator (dev tooling only, like baseline.py —
not part of the shipped library): replicate the driver's read-only sf0.1
tables `mult`x into a scratch dir, preserving schema, column order, value
distributions, and referential integrity.

Method: pure deterministic SQL — each fact table is cross-joined with
range(mult) and every key column is offset by replica * (max_key + 1), so
replicas are disjoint in key space but identical in value distribution.
`events.ts` is offset per replica by 31-day strides (the source spans ~30
days), so each replica is a disjoint time window with the source's exact
intra-window gap structure (gap/session queries see mult x the sessions).
Dimension tables (region, nation) are fixed points of TPC-H-style scaling
and are copied as-is. Text/embedding payloads are replicated unchanged:
replicas become exact dups / cos=1 near-dups, which turns the dedup and
closest-pair queries into the dup-heavy workload a crawl corpus actually
is at scale.

DuckDB writes events.ts back as parquet TIMESTAMP(NANOS) (required: the
Spark side reads it via nanosAsLong, the oracle side via epoch_ns).

Usage: python3 scripts/datagen.py <srcSfDir> <outDir> <mult>
  e.g. python3 scripts/datagen.py /root/testdata/sf0.1 scratch/sf1 10
"""
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def rd(base):
    """DuckDB FROM target for a table that may be a single parquet file
    or a directory of part files (split tables, see copy below)."""
    return f"'{base}/*.parquet'" if os.path.isdir(base) else f"'{base}'"


def main():
    src, out, mult = sys.argv[1], sys.argv[2], int(sys.argv[3])
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    # same bounded-spill knobs as check.py/baseline.py: the split-table
    # materialization below may spill, and it must do so in the managed
    # scratch space under a hard cap, not wherever the cwd points
    con.execute(f"SET memory_limit='"
                f"{os.environ.get('SPARK_GRAFT_DUCK_MEM', '70GB')}'")
    os.makedirs(os.environ.get(
        "SPARK_GRAFT_DUCK_TMP", "scratch/duck_tmp"), exist_ok=True)
    con.execute(f"SET temp_directory='"
                f"{os.environ.get('SPARK_GRAFT_DUCK_TMP', 'scratch/duck_tmp')}'")
    con.execute(f"SET max_temp_directory_size='"
                f"{os.environ.get('SPARK_GRAFT_DUCK_TMP_CAP', '40GB')}'")
    # Optional, for the biggest points (sf100's single-file lineitem
    # COPY buffers the whole 600M-row cross join just to preserve
    # insertion order — ~56 GB of spill on a box whose RAM would
    # otherwise never be touched): row order inside a generated parquet
    # is semantically irrelevant here — the oracle compares are
    # multiset-based and Spark and DuckDB read the SAME files — so
    # callers can trade file-order determinism for streaming COPYs.
    # Values/schemas/row sets stay bit-deterministic either way.
    if os.environ.get("SPARK_GRAFT_DUCK_NO_ORDER") == "1":
        con.execute("SET preserve_insertion_order=false")

    def nxt(table, col):
        v = con.sql(
            f"SELECT max({col}) + 1 FROM {rd(f'{src}/{table}.parquet')}").fetchone()[0]
        assert v is not None, \
            f"{table}.parquet is empty (max({col}) is NULL) — cannot scale it"
        return v

    n_cust = nxt("customer", "c_custkey")
    n_supp = nxt("supplier", "s_suppkey")
    n_part = nxt("part", "p_partkey")
    n_ord = nxt("orders", "o_orderkey")
    n_evt = nxt("events", "event_id")
    n_user = nxt("events", "user_id")
    # The deterministic-slice oracle twins (doc_id % 50 and vec_id % 40,
    # Slice in queries/Q.scala) are replica-preserving
    # ONLY if the replication stride is a multiple of the slice modulus:
    # doc_id + i*n_doc ≡ doc_id (mod 50) needs 50 | n_doc. Otherwise the
    # slice silently degrades from "every replica of a base-slice doc" to
    # a near-random sample while all correctness rows keep passing. So
    # the stride is the key count rounded UP to the modulus: replicas
    # stay disjoint, and a base corpus already on the modulus (sf0.1:
    # 5000 docs, 2000 vectors) keeps its exact stride.
    n_doc = -(-nxt("documents", "doc_id") // 50) * 50
    n_vec = -(-nxt("embeddings", "vec_id") // 40) * 40

    rep = f"CROSS JOIN (SELECT unnest(range({mult})) AS i) r"

    def copy(name, select, split_key=None):
        # split_key writes a DIRECTORY of id-sharded part files instead
        # of one file. Spark assigns scan tasks by file byte ranges, so a
        # highly compressible table (replicated documents text compresses
        # ~100x) that lands under files.maxPartitionBytes as ONE file
        # scans on ONE core no matter the scale point — sf10's 500k-doc
        # corpus was an 8.8 MB single file, serializing every text
        # query's tokenize leaf. A real 100 TB corpus is many files;
        # the sharded layout reproduces that. Deterministic (id modulo,
        # not thread scheduling); readers handle both shapes (rd() here,
        # check.py/baseline.py views, Spark natively).
        tgt = f"{out}/{name}.parquet"
        if split_key is None:
            con.execute(f"COPY ({select}) TO '{tgt}' (FORMAT PARQUET)")
        else:
            nfiles = min(32, max(8, mult))
            os.makedirs(tgt, exist_ok=True)
            # materialize the replicated SELECT ONCE (temp table, spills
            # via temp_directory) and cut the shards from that: the old
            # per-shard WHERE re-executed the full CROSS JOIN generation
            # query nfiles times — up to 32 full generation scans per
            # table at big scale points
            con.execute("DROP TABLE IF EXISTS _gen")
            con.execute(f"CREATE TEMP TABLE _gen AS ({select})")
            for j in range(nfiles):
                con.execute(
                    f"COPY (SELECT * FROM _gen "
                    f"WHERE {split_key} % {nfiles} = {j}) "
                    f"TO '{tgt}/part_{j:02d}.parquet' (FORMAT PARQUET)")
            con.execute("DROP TABLE IF EXISTS _gen")
        n = con.sql(
            f"SELECT count(*) FROM {rd(tgt)}").fetchone()[0]
        print(f"{name}: {n} rows")

    copy("region", f"SELECT * FROM '{src}/region.parquet'")
    copy("nation", f"SELECT * FROM '{src}/nation.parquet'")
    copy("customer", f"""
        SELECT c_custkey + r.i * {n_cust} AS c_custkey, c_name, c_nationkey,
               c_acctbal, c_mktsegment
        FROM '{src}/customer.parquet' {rep}""")
    copy("supplier", f"""
        SELECT s_suppkey + r.i * {n_supp} AS s_suppkey, s_name, s_nationkey,
               s_acctbal
        FROM '{src}/supplier.parquet' {rep}""")
    copy("part", f"""
        SELECT p_partkey + r.i * {n_part} AS p_partkey, p_name, p_brand,
               p_type, p_size, p_retailprice
        FROM '{src}/part.parquet' {rep}""")
    copy("orders", f"""
        SELECT o_orderkey + r.i * {n_ord} AS o_orderkey,
               o_custkey + r.i * {n_cust} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM '{src}/orders.parquet' {rep}""")
    copy("lineitem", f"""
        SELECT l_orderkey + r.i * {n_ord} AS l_orderkey,
               l_partkey + r.i * {n_part} AS l_partkey,
               l_suppkey + r.i * {n_supp} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
               l_returnflag, l_linestatus, l_shipdate
        FROM '{src}/lineitem.parquet' {rep}""")
    # events goes through pyarrow so the scaled copy PRESERVES the source
    # file's ts parquet type (µs TIMESTAMP_NTZ in current driver testdata;
    # was TIMESTAMP(NANOS) through r9 — Tables.events normalizes either
    # shape to bigint epoch-nanos on read). DuckDB alone would silently
    # rewrite the type to its own default; matching the driver's data
    # shape keeps scale-point evidence honest.
    src_ts_type = pq.read_schema(f"{src}/events.parquet").field("ts").type
    evt = con.sql(f"""
        SELECT event_id + r.i * {n_evt} AS event_id,
               ts + r.i * (INTERVAL 31 DAY) AS ts,
               user_id + r.i * {n_user} AS user_id,
               event_type, value, props
        FROM '{src}/events.parquet' {rep}""").arrow()
    ts_idx = evt.schema.get_field_index("ts")
    evt = evt.set_column(
        ts_idx, pa.field("ts", src_ts_type),
        evt.column("ts").cast(src_ts_type))
    pq.write_table(evt, f"{out}/events.parquet")
    print(f"events: {evt.num_rows} rows (ts type: {src_ts_type})")
    copy("documents", f"""
        SELECT doc_id + r.i * {n_doc} AS doc_id, text, lang, source, n_chars
        FROM {rd(f'{src}/documents.parquet')} {rep}""", split_key="doc_id")
    copy("embeddings", f"""
        SELECT vec_id + r.i * {n_vec} AS vec_id, embedding, label
        FROM {rd(f'{src}/embeddings.parquet')} {rep}""", split_key="vec_id")

    # schema parity check: same column names/types as the source, and
    # events.ts stayed TIMESTAMP_NS (a silent downgrade to micros would
    # break the Spark side's nanosAsLong read)
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        a = con.sql(
            f"DESCRIBE SELECT * FROM {rd(f'{src}/{t}.parquet')}").fetchall()
        b = con.sql(
            f"DESCRIBE SELECT * FROM {rd(f'{out}/{t}.parquet')}").fetchall()
        # normalize TIMESTAMP_NS to TIMESTAMP: DuckDB DESCRIBE reads the
        # source's TIMESTAMP(NANOS) as TIMESTAMP, ours as TIMESTAMP_NS;
        # the strict nanos assertion below covers the real requirement
        def norm(rows):
            return [(r[0], "TIMESTAMP" if r[1] == "TIMESTAMP_NS" else r[1])
                    for r in rows]
        assert norm(a) == norm(b), f"{t} schema drifted: {a} vs {b}"
    # DuckDB's typeof() collapses NANOS on read — check the parquet
    # schema itself: the scaled copy must carry the SOURCE's ts type
    ts_type = pq.read_schema(f"{out}/events.parquet").field("ts").type
    src_ts = pq.read_schema(f"{src}/events.parquet").field("ts").type
    assert ts_type == src_ts, f"events.ts is {ts_type}, source is {src_ts}"
    print(f"schema parity OK; wrote {out} at {mult}x {src}")


if __name__ == "__main__":
    main()
