"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same files. The program under test only ever sees these files.

  corpus  - the declared-query star schema (region ... embeddings), same
            table names, column names and types as TESTDATA.md describes
  calib   - detected pose corners + chessboard views for the calibration
            DAG, projected from a seeded ground-truth camera
  stream  - file-arrival events for the streaming sessionizer, with the
            expected complete/partial group counts
"""
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter dup key agg scan slow table part "
         "a merge window order column join vector").split()
PART_ADJ = "red old cold hot new large small blue".split()
PART_NOUN = "bolt anvil plate widget gear ring rod".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return (base + d).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_corpus(out, seed, sf):
    """TPC-H-ish tables plus events/documents/embeddings at scale `sf`
    (sf 0.01 = 60,000 lineitem rows). Document and embedding counts stay
    at 500 below sf 0.05, as in TESTDATA.md's tables; both stay multiples of
    50 and 40 so the declared slice twins keep their meaning."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = lambda base: max(1, int(round(base * sf)))
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line, n_evt = n(1_500_000), n(6_000_000), n(1_000_000)
    n_user = n(15_000)
    n_doc = max(500, n(50_000) // 50 * 50)
    n_vec = max(500, n(20_000) // 40 * 40)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{i}" for i in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", 2404)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line),
                                    2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", 2498))})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt)),
        "value": np.round(rng.exponential(60.0, n_evt) + 0.01, 2),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_evt)])})
    nw = rng.integers(10, 100, n_doc)
    texts = [" ".join(rng.choice(WORDS, k)) for k in nw]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = rng.standard_normal((n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})


# ---------------------------------------------------------------- calib

def _rodrigues(r):
    th = math.sqrt(sum(x * x for x in r))
    if th < 1e-15:
        return np.eye(3)
    k = np.asarray(r) / th
    kx = np.array([[0, -k[2], k[1]], [k[2], 0, -k[0]], [-k[1], k[0], 0]])
    return np.eye(3) + math.sin(th) * kx + (1 - math.cos(th)) * kx @ kx


def _unit(rng):
    v = rng.standard_normal(3)
    return v / np.linalg.norm(v)


def project_cv(k, dist, pts_cam):
    """OpenCV rational model: dist = [k1,k2,p1,p2,k3,k4,k5,k6,...]."""
    k1, k2, p1, p2, k3, k4, k5, k6 = dist[:8]
    x = pts_cam[:, 0] / pts_cam[:, 2]
    y = pts_cam[:, 1] / pts_cam[:, 2]
    r2 = x * x + y * y
    rad = (1 + k1 * r2 + k2 * r2 ** 2 + k3 * r2 ** 3) / \
          (1 + k4 * r2 + k5 * r2 ** 2 + k6 * r2 ** 3)
    xd = x * rad + 2 * p1 * x * y + p2 * (r2 + 2 * x * x)
    yd = y * rad + p1 * (r2 + 2 * y * y) + 2 * p2 * x * y
    return k[0] * xd + k[2], k[4] * yd + k[5]


# chessboard view poses (rvec, tvec) around which the seeded views are drawn
CALIB_VIEWS = [
    ((0.0964, -0.2723, 0.0787), (-175.0, -201.1, 1745.8)),
    ((-0.2101, -0.1263, 0.0201), (-190.1, -202.2, 1771.7)),
    ((-0.1062, -0.0640, 0.0863), (-157.6, -210.2, 1771.1)),
    ((-0.1629, -0.0579, 0.0065), (-166.6, -186.9, 1767.3)),
    ((0.2406, -0.2368, 0.0855), (-41.4, -188.7, 1611.7)),
    ((0.2514, -0.0346, 0.0581), (-62.3, -187.9, 1643.0)),
]


POSE_JITTER_PX = 0.3
BOARD_JITTER_PX = 0.05


def gen_calib(out, seed, fixtures):
    """Pixel corners of the fixture's 3,108 poses, projected through a
    seeded perturbation of the fixture extrinsic with the fixture K/dist,
    plus seeded detection jitter; and six 9x11 chessboard views at detect
    scale (0.5x) for the intrinsic stage. truth.json holds what a correct
    calibration must recover."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    cam = pq.read_table(os.path.join(fixtures, "camera.parquet")).to_pylist()[0]
    k, dist = cam["k"], cam["dist"]
    # fixed-size perturbation in a seeded direction, so that every seed
    # poses the optimizer the same amount of work
    rvec = np.asarray(cam["rvec"]) + 0.005 * _unit(rng)
    tvec = np.asarray(cam["tvec"]) + 3.0 * _unit(rng)
    r = _rodrigues(rvec)

    w = pq.read_table(os.path.join(fixtures, "world_corners.parquet"))
    w = w.sort_by([("ord", "ascending"), ("corner_idx", "ascending")])
    xyz = np.stack([w["x"].to_numpy(), w["y"].to_numpy(),
                    w["z"].to_numpy()], axis=1)
    u, v = project_cv(k, dist, xyz @ r.T + tvec)
    u = u + rng.normal(0, POSE_JITTER_PX, len(u))
    v = v + rng.normal(0, POSE_JITTER_PX, len(v))
    pq.write_table(pa.table({
        "pose_id": w["pose_id"], "ord": w["ord"],
        "corner_idx": w["corner_idx"], "u": u, "v": v}),
        os.path.join(out, "pixel_corners.parquet"))

    half = [k[0] * 0.5, 0.0, k[2] * 0.5, 0.0, k[4] * 0.5, k[5] * 0.5,
            0.0, 0.0, 1.0]
    d8 = [dist[0], dist[1], dist[2], dist[3], 0.0, 0.0, 0.0, dist[7]]
    rows = {"view_id": [], "corner_idx": [], "u": [], "v": [], "x": [],
            "y": []}
    for i, (rv, tv) in enumerate(CALIB_VIEWS):
        rv = np.asarray(rv) + rng.normal(0, 0.01, 3)
        tv = np.asarray(tv) + rng.normal(0, 5.0, 3)
        objp = [(j, (j % 9) * 45.0, (j // 9) * 45.0) for j in range(99)]
        pts = np.array([[x, y, 0.0] for _, x, y in objp])
        pu, pv = project_cv(half, d8, pts @ _rodrigues(rv).T + tv)
        pu = pu + rng.normal(0, BOARD_JITTER_PX, len(pu))
        pv = pv + rng.normal(0, BOARD_JITTER_PX, len(pv))
        for (j, x, y), a, b in zip(objp, pu, pv):
            rows["view_id"].append(f"v{i:02d}")
            rows["corner_idx"].append(j)
            rows["u"].append(float(a))
            rows["v"].append(float(b))
            rows["x"].append(x)
            rows["y"].append(y)
    pq.write_table(pa.table({
        "view_id": rows["view_id"],
        "corner_idx": pa.array(rows["corner_idx"], pa.int32()),
        "u": rows["u"], "v": rows["v"], "x": rows["x"], "y": rows["y"]}),
        os.path.join(out, "calib_corners.parquet"))
    truth = {"k": list(k), "dist": list(dist), "rvec": list(rvec),
             "tvec": list(tvec), "poses": len(set(w["pose_id"].to_pylist())),
             "corners": w.num_rows, "pose_jitter_px": POSE_JITTER_PX}
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth


# ---------------------------------------------------------------- stream

DUP_SHARE = 0.08
PARTIAL_SHARE = 0.1
GAP_SHARE = 0.05


def gen_stream(out, seed, n_groups, n_chunks):
    """File-arrival events in groups of 5 slots (FIXTURES A7): 1-2 s apart
    inside a group, >12 s gaps at seeded group boundaries, a seeded share
    of re-delivered duplicates (a later copy of an earlier event, well
    inside the 60 s dedup window) and a seeded share of groups missing one
    slot. A final complete group 10 minutes later pushes the watermark
    past every partial group, so all of them must be flushed. The events
    are fed in `n_chunks` equal chunks."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    t = 1_700_000_000_000
    events, complete, partial, dups = [], 0, 0, 0
    for g in range(n_groups + 1):
        last = g == n_groups
        if last:
            t += 600_000
        elif rng.random() < GAP_SHARE:
            t += int(rng.integers(13_000, 30_000))
        else:
            t += int(rng.integers(1_000, 2_001))
        slots = list(range(5))
        if not last and rng.random() < PARTIAL_SHARE:
            slots.remove(int(rng.integers(0, 5)))
            partial += 1
        else:
            complete += 1
        for s in slots:
            events.append((t, f"p{g:06d}", s))
            t += int(rng.integers(1_000, 2_001))
    # re-deliveries: a copy of event i delivered 1-3 positions later
    order = []
    for i, e in enumerate(events):
        order.append((i, e))
        if rng.random() < DUP_SHARE:
            order.append((i + 1 + int(rng.integers(0, 3)), e))
            dups += 1
    order.sort(key=lambda x: x[0])
    ev = [e for _, e in order]
    pq.write_table(pa.table({
        "seq": pa.array(range(len(ev)), pa.int64()),
        "pose_id": [p for _, p, _ in ev],
        "slot": pa.array([s for _, _, s in ev], pa.int32()),
        "path": [f"{p}_{s}.JPG" for _, p, s in ev],
        "ts_ms": pa.array([ts for ts, _, _ in ev], pa.int64())}),
        os.path.join(out, "events.parquet"))
    # a fixed chunk count, so every seed makes the same number of ops
    chunk = -(-len(ev) // n_chunks)
    expect = {"events": len(ev), "chunk": chunk, "complete": complete,
              "partial": partial, "duplicates": dups}
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f)
    return expect
