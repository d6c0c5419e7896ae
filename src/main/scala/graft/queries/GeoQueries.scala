package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops.{Geometry => G, Tables => T}

/** Geometry family X5–X15 (SURVEY.md §2.7) declared as queries over
  * lineitem-derived numeric columns, mirroring the reference's
  * per-record math (point3d_transformation.py:87-120,
  * extrinsic_calibration.py:114-124, image_cut_warp.py:33-36).
  *
  * Float policy (SURVEY §7.4): pure arithmetic chains (+,*,/,sqrt) are
  * IEEE bit-identical when both engines evaluate the same expression text
  * → round 9. Transcendental chains (sin/cos) differ in the last ulp
  * between Java and libm → round 6.
  */
object GeoQueries {

  // Exact-decimal orthonormal rotation (3-4-5 Pythagorean rows) + offset:
  // a true rigid transform whose entries are exactly representable.
  private val T4x4 = Seq(
    0.36, 0.48, -0.8, 10.0,
    -0.8, 0.6, 0.0, -5.0,
    0.48, 0.64, 0.6, 2.5,
    0.0, 0.0, 0.0, 1.0)

  private val H3x3 = Seq(
    1.2, 0.1, -30.0,
    -0.05, 0.95, 12.5,
    0.0002, -0.0001, 1.0)

  // DuckDB's round(x, 9) goes through an inexact x*1e9 multiply while
  // Spark rounds the exact decimal expansion of the double — the engines
  // disagree on cells landing within an ulp of a rounding boundary
  // (observed: 20 of 24M cells at sf1). floor(x*1e9 + 0.5)/1e9 is pure
  // IEEE arithmetic, so writing the SAME formula on both sides is
  // bit-identical at any scale; the leading 0.0 + folds -0.0 to 0.0.
  // Oracle-side twin: `0.0 + floor((expr) * 1e9 + 0.5) / 1e9`.
  // PRECONDITION: finite inputs only — and ENFORCED loudly (r15 verdict):
  // Spark's floor(double) casts to BIGINT, so NaN/±Inf become
  // 0/Long.MaxValue while DuckDB keeps NaN/Inf — a singular denominator
  // upstream (e.g. wd=0 in x12) would otherwise DIVERGE SILENTLY across
  // engines. `c - c === 0.0` is true exactly for finite c (IEEE:
  // Inf-Inf = NaN, NaN-NaN = NaN, and NaN comparisons are false); a null
  // input stays null (floor(null) = null), matching the unguarded form.
  // Codegen CSE collapses the repeated `c` subtree, so the guard costs
  // one subtract+compare per value, not a re-evaluation of the chain.
  // (private[graft] so the guard itself is testable — GeoSpec feeds Inf.)
  private[graft] def r9(c: Column): Column =
    when(c.isNull || (c - c === 0.0), lit(0.0) + floor(c * 1e9 + 0.5) / 1e9)
      .otherwise(raise_error(concat(
        lit("r9: non-finite input "), c.cast("string"))).cast("double"))

  // r9's 1e6 twin for the trig-valued queries (x7/x8/x14). These used
  // Spark's round(x, 6), whose DOUBLE codegen path is
  // BigDecimal.valueOf(x) -> Double.toString -> setScale — ~380 ns and
  // two allocations PER VALUE (jstack-sampled: 4 of 6 samples inside
  // BigDecimal from the generated code; x7's 9 rounds x 600k rows x 2
  // plan passes were ~4 s of the query's 4.7). floor(x*1e6 + 0.5)/1e6
  // is pure IEEE arithmetic in codegen, and the oracle writes the SAME
  // formula, so cross-engine equality is by construction rather than
  // by luck of no value landing within an ulp of a decimal boundary.
  // Same finiteness guard + -0.0 fold as r9.
  private[graft] def r6(c: Column): Column =
    when(c.isNull || (c - c === 0.0), lit(0.0) + floor(c * 1e6 + 0.5) / 1e6)
      .otherwise(raise_error(concat(
        lit("r6: non-finite input "), c.cast("string"))).cast("double"))

  // UNGUARDED floor-form — for entries that are PROVABLY finite because
  // their raw inputs were already guarded once (`finite` below) or are
  // integer-derived: trig/products/sums of finite values bounded far
  // from overflow cannot produce NaN/Inf. Why not just r6 everywhere:
  // the guard references its argument 4x (isnull, e-e, the rounding,
  // the error string), so on a computed ENTRY it quadruples the
  // expression tree and drags raise_error's map/concat codegen into
  // every output column — measured 7.1 s vs 0.8 s on x8's 9 entries at
  // sf0.1 (the generated method stops being JIT-friendly). Guarding the
  // ATTRIBUTE inputs once keeps the loud-failure property at ~zero cost.
  private[graft] def r6u(c: Column): Column =
    lit(0.0) + floor(c * 1e6 + 0.5) / 1e6

  // One-time finiteness gate for a RAW input column (same IEEE trick as
  // r9's guard; argument must be a cheap attribute, not a computed
  // tree). Downstream arithmetic of gated inputs may use r6u.
  private[graft] def finite(c: Column): Column =
    when(c.isNull || (c - c === 0.0), c)
      .otherwise(raise_error(concat(
        lit("non-finite input "), c.cast("string"))).cast("double"))

  // x7/x8/x14/x17 bodies over an explicit lineitem source: the full
  // queries and their `Slice.Lineitem` twins (QueryDef.withSlice).
  // Per-row scalar math keyed by l_orderkey, so an input-side filter is
  // exactly an output-side filter.
  private def x7Body(li: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val base = li.select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_partkey") % 360 - 180).cast("double").as("a"),
      (col("l_suppkey") % 180 - 90).cast("double").as("b"),
      (col("l_linenumber") * 30).cast("double").as("c"))
    // staged form: the six trig terms compute once per row instead of
    // being duplicated into all 9 entry trees — see G.eulerZyxStaged.
    // r6u (no per-entry guard): a/b/c are modulo-of-integer casts, so
    // the trig inputs — hence all entries — are finite by construction.
    val (staged, m) = G.eulerZyxStaged(base, col("a"), col("b"), col("c"))
    val outs = for (i <- 0 until 3; j <- 0 until 3)
      yield r6u(m(i)(j)).as(s"r$i$j")
    val rNames = for (i <- 0 until 3; j <- 0 until 3) yield s"r$i$j"
    staged.select(col("l_orderkey") +: col("l_linenumber") +: outs: _*)
      .orderBy(("l_orderkey" +: "l_linenumber" +: rNames).map(col): _*)
  }

  private def x8Body(li: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // rotation-vector inputs gated once (cheap attribute checks): all
    // downstream entries are trig/products of gated values, bounded in
    // [-3, 3] — provably finite, so the per-entry rounding is r6u
    val base = li.select(
      col("l_orderkey"), col("l_linenumber"),
      finite(col("l_discount")).as("rx"), finite(col("l_tax")).as("ry"),
      (finite(col("l_quantity")) / 100.0).as("rz"))
    // staged form: theta/k/cos/sin compute once per row — the inline
    // tree evaluated ~50 sqrts per row (see G.rodriguesStaged). r6u goes
    // in as the entry finisher so it lands INSIDE the zero-theta guard
    // (wrapping the guard would triple the CASE tree — see the helper).
    val (staged, m) =
      G.rodriguesStaged(base, col("rx"), col("ry"), col("rz"), finish = r6u)
    val outs = for (i <- 0 until 3; j <- 0 until 3)
      yield m(i)(j).as(s"r$i$j")
    val rNames = for (i <- 0 until 3; j <- 0 until 3) yield s"r$i$j"
    staged.select(col("l_orderkey") +: col("l_linenumber") +: outs: _*)
      .orderBy(("l_orderkey" +: "l_linenumber" +: rNames).map(col): _*)
  }

  private def x14Body(li: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // SE(3) inverse PROJECTED ABOVE the sort (guide §2.3, the x11
    // pattern): the four sort keys are raw attributes the output
    // carries anyway, so the range exchange moves keys + the three
    // gated translation doubles (~52 B/row) instead of the 12 computed
    // matrix entries (~124 B/row), and the staged-trig chain runs ONCE
    // per row above the exchange instead of twice (range-boundary
    // sampling consumes every child row below it). The angles are
    // functions of the carried key columns, so they are recomputed
    // above the sort for free; ordering is unchanged because the
    // above-sort projection is row-local and the keys are untouched.
    // finite() gates the translation inputs below the sort, unchanged.
    val sorted = li.select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_suppkey"),
      finite(col("l_quantity")).as("tx"),
      (finite(col("l_extendedprice")) / 100.0).as("ty"),
      (finite(col("l_discount")) * 10.0).as("tz"))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    // staged trig (see G.eulerZyxStaged); the matrix entries themselves
    // are cheap products of the staged terms, so their 2x duplication
    // into (R^T, -R^T t) costs multiplies, not transcendentals
    val (base2, m) = G.eulerZyxStaged(sorted,
      (col("l_partkey") % 360 - 180).cast("double"),
      (col("l_suppkey") % 180 - 90).cast("double"),
      (col("l_linenumber") * 30).cast("double"))
    val (rt, nt) = G.se3InverseCols(m, col("tx"), col("ty"), col("tz"))
    val outs =
      (for (i <- 0 until 3; j <- 0 until 3)
        yield r6u(rt(i)(j)).as(s"i$i$j")) ++
      nt.zipWithIndex.map { case (e, i) => r6u(e).as(s"it$i") }
    base2.select(Seq(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")) ++ outs: _*)
  }

  private def x17Body(li: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bracket = array(graft.ops.Hdr.ExposureBracket.map(lit): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey", "l_suppkey")
    val five = li
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), (col("l_quantity") / 50.0).as("z0"),
        (col("l_discount") * 10.0).as("z1"))
      .withColumn("slot", row_number().over(w))
      .filter(col("slot") <= 5)
      .select(col("l_orderkey"),
        element_at(bracket, col("slot")).as("t"),
        array(col("z0"), col("z1")).as("px"))
    graft.ops.Hdr.mergeExploded(five, "l_orderkey", "t", "px")
      .select(col("l_orderkey"), col("channel"),
        round(col("radiance"), 6).as("radiance"))
      .orderBy("l_orderkey", "channel")
  }

  def defs: Seq[QueryDef] = Seq(

    // X5: Euclidean norm per residual (extrinsic_calibration.py:212,
    // camera_calib.py:109-110).
    QueryDef("x5_norm_residual",
      """SELECT l_orderkey, l_linenumber,
        |  0.0 + floor(sqrt((l_quantity - 25.0) * (l_quantity - 25.0) +
        |        (l_discount * 100.0 - 5.0) * (l_discount * 100.0 - 5.0))
        |      * 1e9 + 0.5) / 1e9 AS norm
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, norm""") { (s, d) =>
      // (l_orderkey, l_linenumber) duplicates in the synthetic lineitem:
      // every ORDER BY here is total over the output columns so tied rows
      // hash identically in both engines (same in x6-x9, x12 below)
      val du = col("l_quantity") - 25.0
      val dv = col("l_discount") * 100.0 - 5.0
      T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          r9(G.norm2(du, dv)).as("norm"))
        .orderBy("l_orderkey", "l_linenumber", "norm")
    },

    // X6: homogeneous 4x4 transform p' = T @ [p;1]
    // (point3d_transformation.py:109-120).
    QueryDef("x6_rigid_transform",
      """SELECT l_orderkey, l_linenumber,
        |  0.0 + floor((0.36 * x + 0.48 * y + -0.8 * z + 10.0) * 1e9 + 0.5) / 1e9 AS px,
        |  0.0 + floor((-0.8 * x + 0.6 * y + 0.0 * z + -5.0) * 1e9 + 0.5) / 1e9 AS py,
        |  0.0 + floor((0.48 * x + 0.64 * y + 0.6 * z + 2.5) * 1e9 + 0.5) / 1e9 AS pz
        |FROM (SELECT l_orderkey, l_linenumber, l_quantity AS x,
        |        l_extendedprice / 1000.0 AS y, l_discount * 10.0 AS z
        |      FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, px, py, pz""") { (s, d) =>
      val base = T.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").as("x"),
        (col("l_extendedprice") / 1000.0).as("y"),
        (col("l_discount") * 10.0).as("z"))
      val (px, py, pz) = G.rigidTransform(T4x4, col("x"), col("y"), col("z"))
      base.select(col("l_orderkey"), col("l_linenumber"),
          r9(px).as("px"), r9(py).as("py"), r9(pz).as("pz"))
        .orderBy("l_orderkey", "l_linenumber", "px", "py", "pz")
    }
  ) ++
    // X7: euler ZYX (degrees, KUKA A,B,C) -> rotation matrix
    // (point3d_transformation.py:87-104). Trig -> round 6.
    QueryDef.withSlice("x7_euler_rotation",
      "x7_slice_euler_rotation", Slice.Lineitem)(
      """SELECT l_orderkey, l_linenumber,
        |  0.0 + floor((cos(radians(a)) * cos(radians(b))) * 1e6 + 0.5) / 1e6 AS r00,
        |  0.0 + floor((cos(radians(a)) * sin(radians(b)) * sin(radians(c)) -
        |        sin(radians(a)) * cos(radians(c))) * 1e6 + 0.5) / 1e6 AS r01,
        |  0.0 + floor((cos(radians(a)) * sin(radians(b)) * cos(radians(c)) +
        |        sin(radians(a)) * sin(radians(c))) * 1e6 + 0.5) / 1e6 AS r02,
        |  0.0 + floor((sin(radians(a)) * cos(radians(b))) * 1e6 + 0.5) / 1e6 AS r10,
        |  0.0 + floor((sin(radians(a)) * sin(radians(b)) * sin(radians(c)) +
        |        cos(radians(a)) * cos(radians(c))) * 1e6 + 0.5) / 1e6 AS r11,
        |  0.0 + floor((sin(radians(a)) * sin(radians(b)) * cos(radians(c)) -
        |        cos(radians(a)) * sin(radians(c))) * 1e6 + 0.5) / 1e6 AS r12,
        |  0.0 + floor((-sin(radians(b))) * 1e6 + 0.5) / 1e6 AS r20,
        |  0.0 + floor((cos(radians(b)) * sin(radians(c))) * 1e6 + 0.5) / 1e6 AS r21,
        |  0.0 + floor((cos(radians(b)) * cos(radians(c))) * 1e6 + 0.5) / 1e6 AS r22
        |FROM (SELECT l_orderkey, l_linenumber,
        |        CAST(l_partkey % 360 - 180 AS DOUBLE) AS a,
        |        CAST(l_suppkey % 180 - 90 AS DOUBLE) AS b,
        |        CAST(l_linenumber * 30 AS DOUBLE) AS c
        |      FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber,
        |  r00, r01, r02, r10, r11, r12, r20, r21, r22""") { (_, li) =>
      x7Body(li)
    } ++
    // X8: Rodrigues rvec -> matrix with built-in zero-theta guard
    // (extrinsic_calibration.py:76,105; zero vector = identity, matching
    // cv2.Rodrigues). Trig -> round 6.
    QueryDef.withSlice("x8_rodrigues",
      "x8_slice_rodrigues", Slice.Lineitem)(
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber, l_discount AS rx, l_tax AS ry,
        |         l_quantity / 100.0 AS rz
        |  FROM lineitem),
        |t AS (
        |  SELECT *, sqrt(rx * rx + ry * ry + rz * rz) AS th FROM base),
        |k AS (
        |  SELECT *, rx / th AS kx, ry / th AS ky, rz / th AS kz,
        |         cos(th) AS c, sin(th) AS s, 1.0 - cos(th) AS v
        |  FROM t)
        |SELECT l_orderkey, l_linenumber,
        |  0.0 + floor((CASE WHEN th > 0.0 THEN c + kx * kx * v ELSE 1.0 END) * 1e6 + 0.5) / 1e6 AS r00,
        |  0.0 + floor((CASE WHEN th > 0.0 THEN kx * ky * v - kz * s ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS r01,
        |  0.0 + floor((CASE WHEN th > 0.0 THEN kx * kz * v + ky * s ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS r02,
        |  0.0 + floor((CASE WHEN th > 0.0 THEN ky * kx * v + kz * s ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS r10,
        |  0.0 + floor((CASE WHEN th > 0.0 THEN c + ky * ky * v ELSE 1.0 END) * 1e6 + 0.5) / 1e6 AS r11,
        |  0.0 + floor((CASE WHEN th > 0.0 THEN ky * kz * v - kx * s ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS r12,
        |  0.0 + floor((CASE WHEN th > 0.0 THEN kz * kx * v - ky * s ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS r20,
        |  0.0 + floor((CASE WHEN th > 0.0 THEN kz * ky * v + kx * s ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS r21,
        |  0.0 + floor((CASE WHEN th > 0.0 THEN c + kz * kz * v ELSE 1.0 END) * 1e6 + 0.5) / 1e6 AS r22
        |FROM k ORDER BY l_orderkey, l_linenumber,
        |  r00, r01, r02, r10, r11, r12, r20, r21, r22""") { (_, li) =>
      x8Body(li)
    } ++ Seq(

    // X9: pinhole projection with rational distortion (k1,k2,p1,p2,k4;
    // extrinsic_calibration.py:114-124, camera_calib.py:101-102).
    // Pure arithmetic -> round 9.
    QueryDef("x9_project_points",
      """WITH p AS (
        |  SELECT l_orderkey, l_linenumber,
        |    (l_quantity - 25.0) AS x, (l_discount * 100.0 - 5.0) AS y,
        |    (CAST(l_linenumber AS DOUBLE) + 10.0) AS z
        |  FROM lineitem),
        |n AS (
        |  SELECT *, x / z AS xn, y / z AS yn FROM p),
        |r AS (
        |  SELECT *, xn * xn + yn * yn AS r2 FROM n),
        |dd AS (
        |  SELECT *,
        |    (1.0 + 0.1 * r2 + -0.05 * r2 * r2) / (1.0 + 0.02 * r2) AS radial
        |  FROM r)
        |SELECT l_orderkey, l_linenumber,
        |  0.0 + floor((1000.5 * (xn * radial + 0.002 * xn * yn +
        |        -0.002 * (r2 + 2.0 * xn * xn)) + 960.0) * 1e9 + 0.5) / 1e9 AS u,
        |  0.0 + floor((998.25 * (yn * radial + 0.001 * (r2 + 2.0 * yn * yn) +
        |        -0.004 * xn * yn) + 540.0) * 1e9 + 0.5) / 1e9 AS v
        |FROM dd ORDER BY l_orderkey, l_linenumber, u, v""") { (s, d) =>
      val base = T.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") - 25.0).as("x"),
        (col("l_discount") * 100.0 - 5.0).as("y"),
        (col("l_linenumber").cast("double") + 10.0).as("z"))
      val (staged, (u, v)) = G.projectPointCvStaged(base,
        col("x"), col("y"), col("z"),
        k = Seq(1000.5, 0.0, 960.0, 0.0, 998.25, 540.0, 0.0, 0.0, 1.0),
        dist = Seq(0.1, -0.05, 0.001, -0.002, 0.0, 0.02, 0.0, 0.0))
      staged.select(col("l_orderkey"), col("l_linenumber"),
          r9(u).as("u"), r9(v).as("v"))
        .orderBy("l_orderkey", "l_linenumber", "u", "v")
    },

    // X10: elementwise intrinsics rescale (camera_calib.py:115-119:
    // fx /= scale after detecting at 0.5x).
    QueryDef("x10_intrinsics_rescale",
      """SELECT p_partkey,
        |  0.0 + floor((p_retailprice / 0.5) * 1e9 + 0.5) / 1e9 AS fx_scaled,
        |  0.0 + floor(((CAST(p_size AS DOUBLE) + 0.5) / 0.5) * 1e9 + 0.5) / 1e9 AS cx_scaled
        |FROM part ORDER BY p_partkey""") { (s, d) =>
      T.part(s, d)
        .select(col("p_partkey"),
          r9(col("p_retailprice") / 0.5).as("fx_scaled"),
          r9((col("p_size").cast("double") + 0.5) / 0.5).as("cx_scaled"))
        .orderBy("p_partkey")
    },

    // X11: center crop as array slice (cut600.py:30-32: rows/cols 80..720
    // of 800; generic 1-D form here: middle 6 of 10).
    QueryDef("x11_center_crop",
      """SELECT l_orderkey, l_linenumber,
        |  array_to_string(list_slice(generate_series(l_orderkey, l_orderkey + 9), 3, 8), ',')
        |    AS cropped
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""") { (s, d) =>
      // crop PROJECTED ABOVE the sort, not below: the sort keys are the
      // two source columns, so ordering is unchanged (ties carry an
      // identical cropped value — it is a function of l_orderkey), while
      // the sequence/slice/array_join chain now runs ONCE per row after
      // the range exchange instead of twice (range-boundary sampling
      // consumes every child row) and the exchange moves 12-byte key
      // rows instead of built ~25-char strings (guide §2.3: shuffle
      // keys, attach payloads after). Measured at the sf0.1 gate:
      // 1.06 s -> ~0.45 s, identical rows.
      T.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"))
        .orderBy("l_orderkey", "l_linenumber")
        .select(col("l_orderkey"), col("l_linenumber"),
          array_join(
            G.centerCrop(sequence(col("l_orderkey"), col("l_orderkey") + 9),
              3, 6), ",").as("cropped"))
    },

    // X12 (apply direction): constant homography applied to a 2D point
    // (image_cut_warp.py:33-36 / cv2.warpPerspective math). The solve
    // direction is Geometry.solveHomography (SQL: solve_homography), pinned
    // by unit tests.
    QueryDef("x12_homography_apply",
      """WITH p AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity * 16.0 AS u,
        |         l_extendedprice / 100.0 AS v
        |  FROM lineitem),
        |w AS (
        |  SELECT *, 0.0002 * u + -0.0001 * v + 1.0 AS wd FROM p)
        |SELECT l_orderkey, l_linenumber,
        |  0.0 + floor(((1.2 * u + 0.1 * v + -30.0) / wd) * 1e9 + 0.5) / 1e9 AS u2,
        |  0.0 + floor(((-0.05 * u + 0.95 * v + 12.5) / wd) * 1e9 + 0.5) / 1e9 AS v2
        |FROM w ORDER BY l_orderkey, l_linenumber, u2, v2""") { (s, d) =>
      val base = T.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") * 16.0).as("u"),
        (col("l_extendedprice") / 100.0).as("v"))
      val (u2, v2) = G.homographyApply(H3x3, col("u"), col("v"))
      base.select(col("l_orderkey"), col("l_linenumber"),
          r9(u2).as("u2"), r9(v2).as("v2"))
        .orderBy("l_orderkey", "l_linenumber", "u2", "v2")
    },

    // X13: chessboard world-point grid generation
    // (camera_calib.py:49-51: mgrid[0:w,0:h] * square, 45 mm squares).
    QueryDef("x13_chessboard_grid",
      """SELECT i, j, round(i * 45.0, 9) AS wx, round(j * 45.0, 9) AS wy
        |FROM generate_series(0, 8) t(i), generate_series(0, 10) s(j)
        |ORDER BY i, j""") { (s, d) =>
      // single-partition ranges: the default parallelism split 9 and 11
      // constants across 32 partitions each — ~100 near-empty tasks for
      // 99 output rows (pure scheduling; r21 job/task counts). Constant-size
      // inputs, so one partition is the scale-correct shape too.
      s.range(0, 9, 1, 1).select(col("id").as("i"))
        .crossJoin(s.range(0, 11, 1, 1).select(col("id").as("j")))
        .select(col("i"), col("j"),
          round(col("i") * 45.0, 9).as("wx"),
          round(col("j") * 45.0, 9).as("wy"))
        .orderBy("i", "j")
    },

    // X7/J5 composite: the reference's full 3,125-pose program — euler^3
    // cross join x serpentine grid with the odd-rotation reverse walk
    // (point3d_transformation.py:65-106), golden-matched against
    // world_coords in the test suite. All values exact multiples of 10/50.
    QueryDef("g1_pose_grid",
      """WITH e AS (
        |  SELECT i, CAST(-20 + i * 10 AS DOUBLE) AS v
        |  FROM generate_series(0, 4) t(i)),
        |combos AS (
        |  SELECT a.i * 25 + b.i * 5 + c.i AS ei, a.v AS a, b.v AS b, c.v AS c
        |  FROM e a, e b, e c),
        |grid AS (
        |  SELECT k,
        |    CAST((k // 5) - 2 AS DOUBLE) * 50 AS gx,
        |    CAST((CASE WHEN (k // 5) % 2 = 1 THEN 4 - (k % 5) ELSE k % 5 END) - 2
        |         AS DOUBLE) * 50 AS gy
        |  FROM generate_series(0, 24) t(k))
        |SELECT combos.ei * 25 + kk.k AS pose_idx, a, b, c, gx, gy
        |FROM combos
        |CROSS JOIN (SELECT k FROM generate_series(0, 24) t(k)) kk
        |JOIN grid ON grid.k = CASE WHEN ei % 2 = 0 THEN kk.k ELSE 24 - kk.k END
        |ORDER BY pose_idx""") { (s, d) =>
      graft.pipeline.PoseGrid.poses(s).orderBy("pose_idx")
    }
  ) ++
    // X14: per-row SE(3) inverse (point3d_transformation.py:177-191):
    // R from the x7 euler columns, t from quantity/price/discount;
    // output R^T and -R^T t. Trig-derived -> round 6; partkey/suppkey
    // break ordering ties (linenumber alone is not unique).
    QueryDef.withSlice("x14_se3_inverse",
      "x14_slice_se3_inverse", Slice.Lineitem)(
      """WITH base AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    CAST(l_partkey % 360 - 180 AS DOUBLE) AS a,
        |    CAST(l_suppkey % 180 - 90 AS DOUBLE) AS b,
        |    CAST(l_linenumber * 30 AS DOUBLE) AS c,
        |    l_quantity AS tx, l_extendedprice / 100.0 AS ty,
        |    l_discount * 10.0 AS tz
        |  FROM lineitem),
        |r AS (
        |  SELECT *,
        |    cos(radians(a)) * cos(radians(b)) AS r00,
        |    cos(radians(a)) * sin(radians(b)) * sin(radians(c)) -
        |      sin(radians(a)) * cos(radians(c)) AS r01,
        |    cos(radians(a)) * sin(radians(b)) * cos(radians(c)) +
        |      sin(radians(a)) * sin(radians(c)) AS r02,
        |    sin(radians(a)) * cos(radians(b)) AS r10,
        |    sin(radians(a)) * sin(radians(b)) * sin(radians(c)) +
        |      cos(radians(a)) * cos(radians(c)) AS r11,
        |    sin(radians(a)) * sin(radians(b)) * cos(radians(c)) -
        |      cos(radians(a)) * sin(radians(c)) AS r12,
        |    -sin(radians(b)) AS r20,
        |    cos(radians(b)) * sin(radians(c)) AS r21,
        |    cos(radians(b)) * cos(radians(c)) AS r22
        |  FROM base)
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  0.0 + floor((r00) * 1e6 + 0.5) / 1e6 AS i00, 0.0 + floor((r10) * 1e6 + 0.5) / 1e6 AS i01,
        |  0.0 + floor((r20) * 1e6 + 0.5) / 1e6 AS i02,
        |  0.0 + floor((r01) * 1e6 + 0.5) / 1e6 AS i10, 0.0 + floor((r11) * 1e6 + 0.5) / 1e6 AS i11,
        |  0.0 + floor((r21) * 1e6 + 0.5) / 1e6 AS i12,
        |  0.0 + floor((r02) * 1e6 + 0.5) / 1e6 AS i20, 0.0 + floor((r12) * 1e6 + 0.5) / 1e6 AS i21,
        |  0.0 + floor((r22) * 1e6 + 0.5) / 1e6 AS i22,
        |  0.0 + floor((-(r00 * tx + r10 * ty + r20 * tz)) * 1e6 + 0.5) / 1e6 AS it0,
        |  0.0 + floor((-(r01 * tx + r11 * ty + r21 * tz)) * 1e6 + 0.5) / 1e6 AS it1,
        |  0.0 + floor((-(r02 * tx + r12 * ty + r22 * tz)) * 1e6 + 0.5) / 1e6 AS it2
        |FROM r
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""") { (_, li) =>
      x14Body(li)
    } ++
    // S9/HDR: the pure-Spark exposure-weighted merge semantic of the
    // external hdrgen stage (handlehdrgen.py:30-33; bracket
    // calculate.py:109). Each orderkey's first 5 lineitems play the 5
    // bracketed exposures; two normalized "channels" (quantity, discount)
    // form the pixel array; oracle computes the identical weighted mean in
    // exploded long form. Aggregation-order-sensitive sums => round 6.
    QueryDef.withSlice("x17_hdr_merge",
      "x17_slice_hdr_merge", Slice.Lineitem)(
      """WITH ranked AS (
        |  SELECT l_orderkey,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_linenumber, l_partkey, l_suppkey) AS slot,
        |    l_quantity / 50.0 AS z0, l_discount * 10.0 AS z1
        |  FROM lineitem),
        |five AS (SELECT * FROM ranked WHERE slot <= 5),
        |full5 AS (
        |  SELECT l_orderkey FROM five GROUP BY 1 HAVING count(*) >= 5),
        |expo AS (
        |  SELECT f.l_orderkey, slot,
        |    CASE slot WHEN 1 THEN 1.0/200 WHEN 2 THEN 1.0/800
        |              WHEN 3 THEN 1.0/400 WHEN 4 THEN 1.0/100
        |              ELSE 1.0/50 END AS t,
        |    z0, z1
        |  FROM five f JOIN full5 USING (l_orderkey)),
        |chan AS (
        |  SELECT l_orderkey, 0 AS channel, z0 AS z, t FROM expo
        |  UNION ALL
        |  SELECT l_orderkey, 1 AS channel, z1 AS z, t FROM expo)
        |SELECT l_orderkey, channel,
        |  round(sum(greatest(0.001, 1 - abs(2*z - 1)) * z / t)
        |      / sum(greatest(0.001, 1 - abs(2*z - 1))), 6) AS radiance
        |FROM chan GROUP BY 1, 2 ORDER BY 1, 2""") { (_, li) =>
      // Plan shape (x17Body): slot assignment is row_number ≤ 5, which
      // Spark 4 plans as WindowGroupLimit — a per-partition streaming
      // top-5 per key BEFORE the exchange (Partial mode) and again after
      // (Final), so no task ever buffers a whole key's rows. This
      // replaced the r8 collect_smallest_n (CollectTopK) aggregate: as a
      // TypedImperativeAggregate it runs in ObjectHashAggregateExec,
      // whose sort-based fallback (128-key default) re-serializes every
      // priority-queue buffer through an external sort at 1.5M keys —
      // measured 50-110 s at sf1 vs 1.4-3.8 s for this window shape.
      // The merge itself (Hdr.mergeExploded) is a plain
      // codegen'd sum/sum hash aggregate on (l_orderkey, channel), which
      // the window's hashpartitioning(l_orderkey) already satisfies —
      // the whole query is ONE exchange.
      // l_linenumber alone is NOT unique per orderkey in the synthetic
      // data — partkey/suppkey break the tie for a total slot order;
      // groups with <5 exposures are dropped by mergeExploded's
      // minExposures count (the oracle's HAVING count(*) >= 5 guard).
      x17Body(li)
    } ++ Seq(

    // X15: luminance scale x0.9 (lumiadjust.py:14, pcomb -s 0.9) over an
    // HDR-pixel-like float array; posexplode (never stringify doubles).
    QueryDef("x15_luminance_scale",
      """SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
        |  0.0 + floor(CAST(unnest(embedding) AS DOUBLE) * 0.9 * 1e9 + 0.5) / 1e9 AS lum
        |FROM embeddings ORDER BY vec_id, pos""") { (s, d) =>
      // scale + explode ABOVE the total sort (r21): vec_id is unique, so
      // sorting vectors by vec_id and THEN exploding yields exactly the
      // declared (vec_id, pos) order — posexplode emits positions
      // ascending within each row and Generate preserves the sorted row
      // order. The exchange moves one 64-float row per vector instead of
      // 64 exploded rows, and the transform runs once (not per
      // sort-sampling pass).
      T.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .orderBy("vec_id")
        .select(col("vec_id"),
          posexplode(G.luminanceScale(col("embedding"))).as(Seq("pos", "lum")))
        .select(col("vec_id"), col("pos"), r9(col("lum")).as("lum"))
    }
  )
}
