package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Geometry expression library — pure Catalyst expression trees (no UDFs),
  * so every op is codegen-friendly, pushdown-transparent, and DuckDB-oracle
  * comparable.
  *
  * One scalar kernel sits beside them: `projectCvScalar`, the
  * operation-order twin of `rigidTransform` + `projectPointCvStaged`.
  * The calibration DAG's per-point math runs it on the driver, over each
  * fit's one collected point set: Extrinsic (PnP-refined LM and
  * reprojection stats) and Intrinsic.calibrate (bundle and mean error),
  * so an LM step plans and compiles no query; the Column forms stay as
  * its reference and for the query library.
  *
  * Re-expresses the reference's per-record numpy/cv2 math
  * (reference: point3d_transformation.py:87-120 euler/transform,
  * extrinsic_calibration.py:114-124 pinhole projection,
  * image_cut_warp.py:33-36 homography apply, lumiadjust.py:14 scale).
  */
object Geometry {

  /** 3x3 row-major matrix of Columns. */
  type Mat3 = Seq[Seq[Column]]

  /** Euclidean norm of a 2D residual (extrinsic_calibration.py:212). */
  def norm2(du: Column, dv: Column): Column =
    sqrt(du * du + dv * dv)

  /** Apply a 4x4 homogeneous transform T (row-major Seq of 16 doubles) to a
    * 3D point, dropping w (point3d_transformation.py:109-120: p' = T @ [p;1]).
    */
  def rigidTransform(t: Seq[Double], x: Column, y: Column, z: Column)
      : (Column, Column, Column) = {
    require(t.length == 16)
    def row(i: Int): Column =
      lit(t(i * 4)) * x + lit(t(i * 4 + 1)) * y + lit(t(i * 4 + 2)) * z +
        lit(t(i * 4 + 3))
    (row(0), row(1), row(2))
  }

  /** Rotation matrix from ZYX euler angles in degrees (KUKA A,B,C order;
    * point3d_transformation.py:87-104): R = Rz(a) @ Ry(b) @ Rx(c), with
    * the six trig terms staged as named intermediate columns on `df`.
    *
    * Why the DataFrame-level form: a Column-only helper builds each
    * matrix entry as its own tree, so shared terms (cos/sin of each
    * angle, Rodrigues' sqrt) are textually DUPLICATED into all 9 entries
    * — ~90 transcendental evaluations per row once the 9 entries are
    * selected, and an expression source so large it bloats codegen.
    * Staging the shared terms as real columns lets the optimizer keep
    * them staged (CollapseProject refuses to inline a non-trivial alias
    * referenced more than once), so each computes ONCE per row inside
    * the same whole-stage-codegen pass. Measured on x8 at sf0.1:
    * 15.6 s inline -> 0.23 s staged, bit-identical output (same entry
    * trees, shared terms have one evaluation site but the same value).
    * rodriguesStaged and projectPointCvStaged follow the same pattern.
    */
  def eulerZyxStaged(df: org.apache.spark.sql.DataFrame,
      aDeg: Column, bDeg: Column, cDeg: Column)
      : (org.apache.spark.sql.DataFrame, Mat3) = {
    val staged = df.withColumns(Map(
      "__ca" -> cos(radians(aDeg)), "__sa" -> sin(radians(aDeg)),
      "__cb" -> cos(radians(bDeg)), "__sb" -> sin(radians(bDeg)),
      "__cc" -> cos(radians(cDeg)), "__sc" -> sin(radians(cDeg))))
    val (ca, sa) = (col("__ca"), col("__sa"))
    val (cb, sb) = (col("__cb"), col("__sb"))
    val (cc, sc) = (col("__cc"), col("__sc"))
    (staged, Seq(
      Seq(ca * cb, ca * sb * sc - sa * cc, ca * sb * cc + sa * sc),
      Seq(sa * cb, sa * sb * sc + ca * cc, sa * sb * cc - ca * sc),
      Seq(-sb, cb * sc, cb * cc)))
  }

  /** Rodrigues rotation-vector -> rotation matrix, closed form
    * (extrinsic_calibration.py:76,105: cv2.Rodrigues):
    * R = c I + (1-c) k k^T + s [k]x, with theta = |r|, k = r/theta, and
    * theta / k / cos / sin / (1-cos) staged as named intermediate columns
    * (see eulerZyxStaged; inline, the sqrt appeared ~50x in the entry
    * trees). The zero rotation vector is a legitimate cv2.Rodrigues
    * input meaning identity, so the guard is built in — theta == 0
    * yields I, never NaN.
    *
    * `finish` is applied to each entry INSIDE the zero-theta guard's
    * live branch (the identity constants pass through exactly under any
    * rounding, so finishing only the computed branch is value-identical
    * to finishing the whole CASE). Wrapping the guard from outside
    * instead triples the CASE tree: a finisher like GeoQueries.r6
    * references its argument 3x, and nesting CASE-in-CASE defeated
    * codegen CSE — measured 6.6 s vs 0.9 s on x8 at sf0.1.
    */
  def rodriguesStaged(df: org.apache.spark.sql.DataFrame,
      rx: Column, ry: Column, rz: Column,
      finish: Column => Column = identity)
      : (org.apache.spark.sql.DataFrame, Mat3) = {
    val staged = df
      .withColumn("__th", sqrt(rx * rx + ry * ry + rz * rz))
      .withColumns(Map(
        "__kx" -> (rx / col("__th")), "__ky" -> (ry / col("__th")),
        "__kz" -> (rz / col("__th")),
        "__c" -> cos(col("__th")), "__s" -> sin(col("__th"))))
      .withColumn("__v", lit(1.0) - col("__c"))
    val th = col("__th")
    val (kx, ky, kz) = (col("__kx"), col("__ky"), col("__kz"))
    val (c, s, v) = (col("__c"), col("__s"), col("__v"))
    val raw = Seq(
      Seq(c + kx * kx * v, kx * ky * v - kz * s, kx * kz * v + ky * s),
      Seq(ky * kx * v + kz * s, c + ky * ky * v, ky * kz * v - kx * s),
      Seq(kz * kx * v - ky * s, kz * ky * v + kx * s, c + kz * kz * v))
    (staged, raw.zipWithIndex.map { case (row, i) =>
      row.zipWithIndex.map { case (e, j) =>
        when(th > 0.0, finish(e)).otherwise(lit(if (i == j) 1.0 else 0.0))
      }
    })
  }

  /** Full cv2 rational-model projection (extrinsic_calibration.py:114-124
    * via cv2.projectPoints): camera-frame (x,y,z) -> pixels, with
    * radial (1 + k1 r² + k2 r⁴ + k3 r⁶)/(1 + k4 r² + k5 r⁴ + k6 r⁶) and
    * tangential p1,p2. `dist` is the OpenCV 14-vector
    * [k1,k2,p1,p2,k3,k4,k5,k6,s1..s4,τx,τy] (s/τ unused — the reference
    * calibrates with CALIB_RATIONAL_MODEL|FIX_K3..K5, camera_calib.py:101,
    * so its only nonzero denominator term is k6 r⁶).
    *
    * xn, yn and r2 are staged as named columns on `df` (see
    * eulerZyxStaged): inline, each of u and v repeated the r2 subtree
    * 14 times.
    */
  def projectPointCvStaged(df: org.apache.spark.sql.DataFrame,
      x: Column, y: Column, z: Column,
      k: Seq[Double], dist: Seq[Double])
      : (org.apache.spark.sql.DataFrame, (Column, Column)) = {
    require(k.length == 9 && dist.length >= 8)
    val Seq(k1, k2, p1, p2, k3, k4, k5, k6) = dist.take(8)
    val (fx, fy, cx, cy) = (k(0), k(4), k(2), k(5))
    val staged = df
      .withColumns(Map("__xn" -> (x / z), "__yn" -> (y / z)))
      .withColumn("__r2",
        col("__xn") * col("__xn") + col("__yn") * col("__yn"))
    val (xn, yn, r2) = (col("__xn"), col("__yn"), col("__r2"))
    val radial =
      (lit(1.0) + lit(k1) * r2 + lit(k2) * r2 * r2 + lit(k3) * r2 * r2 * r2) /
      (lit(1.0) + lit(k4) * r2 + lit(k5) * r2 * r2 + lit(k6) * r2 * r2 * r2)
    val xd = xn * radial + lit(2.0 * p1) * xn * yn +
      lit(p2) * (r2 + lit(2.0) * xn * xn)
    val yd = yn * radial + lit(p1) * (r2 + lit(2.0) * yn * yn) +
      lit(2.0 * p2) * xn * yn
    (staged, (lit(fx) * xd + lit(cx), lit(fy) * yd + lit(cy)))
  }

  /** Row-at-a-time twin of `rigidTransform(t, x, y, z)` followed by
    * `projectPointCvStaged(.., k, dist)`: world (x, y, z) -> camera frame
    * through the row-major 4x4 `t` -> full cv2 rational-model pixel
    * (u, v). Every sum and product is written in the Column forms'
    * left-associated order (`2.0 * p1` folded first, as the literal
    * there), and JVM doubles are strict IEEE, so the result has the same
    * bits as the Catalyst form.
    * `k` is row-major 9, `dist` the cv2 layout (at least 8 entries).
    * Domain: camera-frame z != 0 and a non-zero radial denominator; there
    * the Column form raises or returns null (ANSI / non-ANSI division),
    * while this kernel returns IEEE infinities or NaN.
    */
  def projectCvScalar(t: Array[Double], k: Array[Double], dist: Array[Double],
      x: Double, y: Double, z: Double): (Double, Double) = {
    val xc = t(0) * x + t(1) * y + t(2) * z + t(3)
    val yc = t(4) * x + t(5) * y + t(6) * z + t(7)
    val zc = t(8) * x + t(9) * y + t(10) * z + t(11)
    val k1 = dist(0); val k2 = dist(1); val p1 = dist(2); val p2 = dist(3)
    val k3 = dist(4); val k4 = dist(5); val k5 = dist(6); val k6 = dist(7)
    val xn = xc / zc
    val yn = yc / zc
    val r2 = xn * xn + yn * yn
    val radial =
      (1.0 + k1 * r2 + k2 * r2 * r2 + k3 * r2 * r2 * r2) /
      (1.0 + k4 * r2 + k5 * r2 * r2 + k6 * r2 * r2 * r2)
    val xd = xn * radial + (2.0 * p1) * xn * yn +
      p2 * (r2 + 2.0 * xn * xn)
    val yd = yn * radial + p1 * (r2 + 2.0 * yn * yn) +
      (2.0 * p2) * xn * yn
    (k(0) * xd + k(2), k(4) * yd + k(5))
  }

  /** Apply a 3x3 homography (row-major 9 doubles) to a 2D point
    * (image_cut_warp.py:33-36 / cv2.warpPerspective math).
    */
  def homographyApply(h: Seq[Double], u: Column, v: Column)
      : (Column, Column) = {
    require(h.length == 9)
    val w = lit(h(6)) * u + lit(h(7)) * v + lit(h(8))
    ((lit(h(0)) * u + lit(h(1)) * v + lit(h(2))) / w,
      (lit(h(3)) * u + lit(h(4)) * v + lit(h(5))) / w)
  }

  /** Solve the 3x3 homography mapping 4 source points onto 4 destination
    * points (image_cut_warp.py:28-31 / cv2.getPerspectiveTransform):
    * the standard 8x8 DLT system through `solveLinear`. Row-major 9-vector
    * result with h22 = 1; a degenerate point configuration throws
    * IllegalArgumentException.
    */
  def solveHomography(src: Seq[(Double, Double)], dst: Seq[(Double, Double)])
      : Array[Double] = {
    require(src.length == 4 && dst.length == 4)
    // A x = b, x = [h00..h21], h22 = 1
    val a = new Array[Array[Double]](8)
    val b = new Array[Double](8)
    for (i <- 0 until 4) {
      val (sx, sy) = src(i); val (dx, dy) = dst(i)
      a(2 * i) = Array(sx, sy, 1, 0, 0, 0, -sx * dx, -sy * dx)
      a(2 * i + 1) = Array(0, 0, 0, sx, sy, 1, -sx * dy, -sy * dy)
      b(2 * i) = dx; b(2 * i + 1) = dy
    }
    solveLinear(a, b) :+ 1.0
  }

  /** Solve the square system A x = b by Gaussian elimination with partial
    * pivoting — the one small dense solver (driver- or executor-side):
    * the 8x8 homography, the 6-parameter extrinsic LM step and the
    * intrinsic bundle's 9 + 6/view step. Throws IllegalArgumentException
    * when a pivot's magnitude is <= 1e-12; Corners' grid assembly skips
    * degenerate candidate quads by catching it.
    */
  def solveLinear(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = b.length
    val m = Array.tabulate(n)(i => a(i) :+ b(i))
    for (c0 <- 0 until n) {
      val piv = (c0 until n).maxBy(r => math.abs(m(r)(c0)))
      val tmp = m(c0); m(c0) = m(piv); m(piv) = tmp
      require(math.abs(m(c0)(c0)) > 1e-12, "singular linear system")
      for (r <- c0 + 1 until n) {
        val f = m(r)(c0) / m(c0)(c0)
        for (c <- c0 until n + 1) m(r)(c) -= f * m(c0)(c)
      }
    }
    val x = new Array[Double](n)
    for (r <- n - 1 to 0 by -1) {
      var s = m(r)(n)
      for (c <- r + 1 until n) s -= m(r)(c) * x(c)
      x(r) = s / m(r)(r)
    }
    x
  }

  /** Elementwise luminance scale x0.9 on an array column
    * (lumiadjust.py:14: pcomb -s 0.9; the pure-Spark semantic form S10/X15).
    */
  def luminanceScale(pixels: Column, factor: Double = 0.9): Column =
    transform(pixels, x => x.cast("double") * lit(factor))

  /** Center crop of a 1-D numeric array: elements [lo, lo+len)
    * 1-based — the generic form of cut600.py:30-32's 800->640 crop.
    */
  def centerCrop(arr: Column, lo: Int, len: Int): Column =
    slice(arr, lo, len)

  /** Column-level SE(3) inverse (point3d_transformation.py:177-191):
    * given per-row rotation columns R (Mat3) and translation columns,
    * returns (R^T, -R^T t) — the per-row form of `se3Inverse`.
    */
  def se3InverseCols(r: Mat3, tx: Column, ty: Column, tz: Column)
      : (Mat3, Seq[Column]) = {
    val rt = Seq.tabulate(3, 3)((i, j) => r(j)(i))
    val nt = Seq.tabulate(3)(i =>
      -(r(0)(i) * tx + r(1)(i) * ty + r(2)(i) * tz))
    (rt, nt)
  }

  /** Closed-form SE(3) inverse of a 4x4 [R|t] (row-major 16)
    * (point3d_transformation.py:177-191, commented variant): R^T, -R^T t.
    */
  def se3Inverse(t: Seq[Double]): Seq[Double] = {
    require(t.length == 16)
    val r = Array(t(0), t(1), t(2), t(4), t(5), t(6), t(8), t(9), t(10))
    val tr = Array(t(3), t(7), t(11))
    def rt(i: Int, j: Int) = r(j * 3 + i) // transpose
    val nt = (0 until 3).map(i => -(rt(i, 0) * tr(0) + rt(i, 1) * tr(1) + rt(i, 2) * tr(2)))
    Seq(
      rt(0, 0), rt(0, 1), rt(0, 2), nt(0),
      rt(1, 0), rt(1, 1), rt(1, 2), nt(1),
      rt(2, 0), rt(2, 1), rt(2, 2), nt(2),
      0.0, 0.0, 0.0, 1.0)
  }
}
