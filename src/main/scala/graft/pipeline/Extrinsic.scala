package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Geometry

/** The reference's extrinsic-calibration composite (SURVEY.md §2.9;
  * extrinsic_calibration.py:244-316):
  *
  *   A. validate: key-intersection of pixel/world corner tables (J2/A6)
  *   B. init: per-pose planar PnP over the first N poses in ord order,
  *      column-mean of rvec/tvec (extrinsic_calibration.py:41-79)
  *   C. refine: Levenberg-Marquardt on the 6 params, every iteration's
  *      J^T J / J^T r / cost one loop over the corner points
  *   D. evaluate: per-point reprojection error -> grand stats
  *      (X5 / A2 / A1), golden-matched against camera_extrinsic.npz
  *
  * One collect, then the driver: `points` reads the corner table with ONE
  * `collect` and `pointsOf` sorts it by (ord, pose_id, corner_idx) once;
  * B-D run on that point array, as the reference runs solvePnP and
  * least_squares in one process (extrinsic_calibration.py:54-79,
  * 154-161). DataPipeline hands over the `pointsOf` array of the
  * matched corners it has just built, so a cold DAG runs no job here. The
  * collect is bounded by the pose grid, not by the corpus: at most 3,120
  * poses x 4 corners, since matched_corners inner-joins the detections
  * onto the constant world grid. Every sum runs in that one order, so the
  * results do not depend on how the input is partitioned.
  *
  * All per-point math is the scalar kernel Geometry.projectCvScalar (the
  * bit-identical twin of Geometry.rigidTransform + projectPointCvStaged).
  */
object Extrinsic {

  /** One matched corner: pixel (u, v) and world (x, y, z). */
  final case class Point(poseId: String, ord: Long, cornerIdx: Long,
      u: Double, v: Double, x: Double, y: Double, z: Double)

  /** (pose_id, ord, corner_idx, u, v, x, y, z) — pixel+world corners. */
  def loadCorners(spark: SparkSession, fixturesDir: String): DataFrame = {
    val pix = spark.read.parquet(s"$fixturesDir/pixel_corners.parquet")
    val wld = spark.read.parquet(s"$fixturesDir/world_corners.parquet")
      .drop("ord")
    pix.join(wld, Seq("pose_id", "corner_idx"))
  }

  /** The one Spark job of the extrinsic solve: every corner of `corners`
    * (pose_id, ord, corner_idx, u, v, x, y, z) to the driver, cast as
    * [[pointsOf]] reads them.
    */
  def points(corners: DataFrame): Array[Point] =
    pointsOf(corners.select(col("pose_id").cast("string"),
        col("ord").cast("long"), col("corner_idx").cast("long"),
        col("u").cast("double"), col("v").cast("double"),
        col("x").cast("double"), col("y").cast("double"),
        col("z").cast("double"))
      .collect())

  /** Rows of (pose_id string, ord long, corner_idx long, u, v, x, y, z
    * double) as points sorted by (ord, pose_id, corner_idx). Rows with a
    * null or NaN among u, v, x, y, z are dropped (as `na.drop` drops
    * them): they have no residual. A null key fails the solve.
    */
  def pointsOf(rows: Array[Row]): Array[Point] = {
    val kept = rows.filterNot(r =>
      (3 to 7).exists(i => r.isNullAt(i) || r.getDouble(i).isNaN))
    kept.find(_.anyNull).foreach(r =>
      throw new IllegalArgumentException(s"extrinsic: corner with a null key: $r"))
    kept.map(r => Point(r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getDouble(7)))
      .sortBy(p => (p.ord, p.poseId, p.cornerIdx))
  }

  /** Stage D: mean/std_pop/max/min/median/RMSE over all point errors
    * (extrinsic_calibration.py:216-226). Returns the 6 stats; the median
    * is the mean of the two middle errors, as Spark's exact percentile
    * at 0.5 interpolates it.
    *
    * The per-point error is world -> camera (X6) -> project (X9, full cv2
    * rational model) -> Euclidean distance to the detected pixel (X5), for
    * the extrinsic T (row-major 16). World coordinates are quantized
    * through float32 first — the reference casts them with
    * dtype=np.float32 before cv2.projectPoints
    * (extrinsic_calibration.py:197-198), and the golden
    * reprojection_stats are only reproducible to 1e-6 with that
    * quantization (verified: max deviation 7e-14 with it, 4e-5 without).
    */
  def reprojectionStats(pts: Array[Point], k: Seq[Double],
      dist: Seq[Double], t: Seq[Double]): Map[String, Double] = {
    require(pts.nonEmpty, "no corners to evaluate")
    val (ta, ka, da) = (t.toArray, k.toArray, dist.toArray)
    val err = pts.map { p =>
      val (up, vp) = Geometry.projectCvScalar(ta, ka, da,
        p.x.toFloat.toDouble, p.y.toFloat.toDouble, p.z.toFloat.toDouble)
      val (du, dv) = (up - p.u, vp - p.v)
      math.sqrt(du * du + dv * dv)
    }
    val n = err.length
    val mean = err.sum / n
    val sorted = err.sorted
    Map(
      "mean_error" -> mean,
      "std_error" -> math.sqrt(err.map(e => (e - mean) * (e - mean)).sum / n),
      "max_error" -> sorted(n - 1), "min_error" -> sorted(0),
      "median_error" -> (sorted((n - 1) / 2) + sorted(n / 2)) / 2,
      "rmse" -> math.sqrt(err.map(e => e * e).sum / n))
  }

  // ---- plain-Scala small linear algebra (driver kernels) ----

  /** Rodrigues vector -> row-major 3x3 (scalar twin of Geometry.rodriguesStaged). */
  def rodriguesScalar(r: Seq[Double]): Array[Double] = {
    val theta = math.sqrt(r.map(x => x * x).sum)
    if (theta < 1e-12) return Array(1, 0, 0, 0, 1, 0, 0, 0, 1)
    val Seq(kx, ky, kz) = r.map(_ / theta)
    val c = math.cos(theta); val s = math.sin(theta); val v = 1 - c
    Array(
      c + kx * kx * v, kx * ky * v - kz * s, kx * kz * v + ky * s,
      ky * kx * v + kz * s, c + ky * ky * v, ky * kz * v - kx * s,
      kz * kx * v - ky * s, kz * ky * v + kx * s, c + kz * kz * v)
  }

  /** Rotation matrix (row-major 9) -> Rodrigues vector. Goes through the
    * quaternion (Shepperd's branch selection) so it is stable for theta
    * near pi — which is exactly where this camera lives (rotated ~pi
    * about z relative to BASE; the naive skew-part formula divides by
    * sin(theta) ~ 0 there and returns garbage).
    */
  def rodriguesInv(m: Seq[Double]): Array[Double] = {
    val tr = m(0) + m(4) + m(8)
    var (qw, qx, qy, qz) = (0.0, 0.0, 0.0, 0.0)
    if (tr > 0) {
      val s = math.sqrt(tr + 1) * 2
      qw = 0.25 * s; qx = (m(7) - m(5)) / s
      qy = (m(2) - m(6)) / s; qz = (m(3) - m(1)) / s
    } else if (m(0) > m(4) && m(0) > m(8)) {
      val s = math.sqrt(1 + m(0) - m(4) - m(8)) * 2
      qw = (m(7) - m(5)) / s; qx = 0.25 * s
      qy = (m(1) + m(3)) / s; qz = (m(2) + m(6)) / s
    } else if (m(4) > m(8)) {
      val s = math.sqrt(1 + m(4) - m(0) - m(8)) * 2
      qw = (m(2) - m(6)) / s; qx = (m(1) + m(3)) / s
      qy = 0.25 * s; qz = (m(5) + m(7)) / s
    } else {
      val s = math.sqrt(1 + m(8) - m(0) - m(4)) * 2
      qw = (m(3) - m(1)) / s; qx = (m(2) + m(6)) / s
      qy = (m(5) + m(7)) / s; qz = 0.25 * s
    }
    if (qw < 0) { qw = -qw; qx = -qx; qy = -qy; qz = -qz }
    val sinHalf = math.sqrt(qx * qx + qy * qy + qz * qz)
    if (sinHalf < 1e-12) return Array(0, 0, 0)
    val theta = 2 * math.atan2(sinHalf, qw)
    val scale = theta / sinHalf
    Array(qx * scale, qy * scale, qz * scale)
  }

  /** [rvec,tvec] 6-params -> row-major 4x4 T. */
  def paramsToT(p: Seq[Double]): Seq[Double] = {
    val r = rodriguesScalar(p.take(3))
    Seq(
      r(0), r(1), r(2), p(3),
      r(3), r(4), r(5), p(4),
      r(6), r(7), r(8), p(5),
      0.0, 0.0, 0.0, 1.0)
  }

  /** Stage C: Levenberg-Marquardt (Lm.minimize) over [rvec,tvec]. Each
    * iteration's normal equations are one loop over the points: per point
    * the kernel projects at the base parameters and at the 6
    * forward-difference points, and the residual and Jacobian row are
    * folded straight into the cost, the J^T J upper triangle (mirrored
    * after the loop) and J^T r.
    * Each damping attempt is one loop summing the squared residuals.
    * Both loops run in the points' one order. Returns the parameters and
    * the sum of squared residuals at them.
    */
  def refine(pts: Array[Point], k: Seq[Double], dist: Seq[Double],
      init: Seq[Double], maxIter: Int = 50, eps: Double = 1e-6)
      : (Seq[Double], Double) = {
    val (ka, da) = (k.toArray, dist.toArray)
    val (best, cost) = Lm.minimize(init.toArray, maxIter)(
      p => {
        // T at p, then at p + eps in each of the 6 parameters
        val ts = (p +: (0 until 6).map { i =>
          val pi = p.clone(); pi(i) += eps; pi
        }).map(q => paramsToT(q.toSeq).toArray).toArray
        val jtj = Array.ofDim[Double](6, 6); val jtr = new Array[Double](6)
        var rss = 0.0
        val ju = new Array[Double](6); val jv = new Array[Double](6)
        pts.foreach { pt =>
          val (u0, v0) = Geometry.projectCvScalar(ts(0), ka, da, pt.x, pt.y, pt.z)
          val (ru, rv) = (u0 - pt.u, v0 - pt.v)
          var i = 0
          while (i < 6) {
            val (ui, vi) =
              Geometry.projectCvScalar(ts(i + 1), ka, da, pt.x, pt.y, pt.z)
            ju(i) = ((ui - pt.u) - ru) / eps; jv(i) = ((vi - pt.v) - rv) / eps
            i += 1
          }
          rss += ru * ru + rv * rv
          var a = 0
          while (a < 6) {
            var b = a
            while (b < 6) {
              jtj(a)(b) += ju(a) * ju(b) + jv(a) * jv(b)
              b += 1
            }
            jtr(a) += ju(a) * ru + jv(a) * rv
            a += 1
          }
        }
        for (a <- 0 until 6; b <- 0 until a) jtj(a)(b) = jtj(b)(a)
        (jtj, jtr, rss)
      },
      p => {
        val t = paramsToT(p.toSeq).toArray
        var s = 0.0
        pts.foreach { pt =>
          val (up, vp) = Geometry.projectCvScalar(t, ka, da, pt.x, pt.y, pt.z)
          val (du, dv) = (up - pt.u, vp - pt.v)
          s += du * du + dv * dv
        }
        s
      })
    (best.toSeq, cost)
  }

  /** Stage B: per-pose planar PnP (the 4 sample corners are coplanar —
    * the TOOL-frame source square, point3d_transformation.py:139-140):
    * build a deterministic plane frame, solve the plane->normalized-image
    * homography exactly (4 points), decompose to [R|t], compose back to
    * camera-from-BASE. Distortion is ignored at init (it is an init).
    * The poses with ord < sampleSize are solved in ord order, each from
    * its corners in corner_idx order; rvec/tvec averaged over the sample
    * (extrinsic_calibration.py:72-73 np.mean(axis=0)).
    */
  def initPnp(pts: Array[Point], k: Seq[Double], sampleSize: Int = 20)
      : Seq[Double] = {
    val (fx, fy, cx0, cy0) = (k(0), k(4), k(2), k(5))
    val sample = pts.filter(_.ord < sampleSize)
    // pts is sorted by (ord, pose_id, corner_idx): ord order of the poses
    val poses = sample.map(_.poseId).distinct.map(id => sample.filter(_.poseId == id))
    val sols = poses.map { ps =>
      val w = ps.map(p => Array(p.x, p.y, p.z)) // world, BASE frame
      val px = ps.map(p => ((p.u - cx0) / fx, (p.v - cy0) / fy)).toSeq
      // deterministic plane frame
      def sub(a: Array[Double], b: Array[Double]) =
        Array(a(0) - b(0), a(1) - b(1), a(2) - b(2))
      def dot3(a: Array[Double], b: Array[Double]) =
        a(0) * b(0) + a(1) * b(1) + a(2) * b(2)
      def cross(a: Array[Double], b: Array[Double]) = Array(
        a(1) * b(2) - a(2) * b(1), a(2) * b(0) - a(0) * b(2),
        a(0) * b(1) - a(1) * b(0))
      def norm(a: Array[Double]) = {
        val n = math.sqrt(dot3(a, a)); a.map(_ / n)
      }
      val o = Array(0, 1, 2).map(i => w.map(_(i)).sum / 4)
      val e1 = norm(sub(w(1), w(0)))
      val n = norm(cross(sub(w(1), w(0)), sub(w(3), w(0))))
      val e2 = cross(n, e1)
      val plane2d = w.map(p => (dot3(sub(p, o), e1), dot3(sub(p, o), e2))).toSeq
      // homography plane2d -> normalized image
      val h = Geometry.solveHomography(plane2d, px)
      // pose of the plane in the camera; px is already K^-1-normalized
      val (rcp, tp) = Intrinsic.poseFromH(h, 1.0, 1.0, 0.0, 0.0)
      // R_cam_plane * Q^T where Q = [e1 e2 n] (plane->BASE)
      val q = Array(e1, e2, n) // rows = plane axes in BASE => Q^T rows
      val r = Array.tabulate(3, 3)((i, j) =>
        dot3(rcp.slice(3 * i, 3 * i + 3), Array(q(0)(j), q(1)(j), q(2)(j))))
      val t = Array.tabulate(3)(i => tp(i) - dot3(r(i), o))
      rodriguesInv(r.flatten.toSeq) ++ t
    }
    // Column-mean of the sampled solutions (extrinsic_calibration.py:72-73)
    // with one correction the reference gets away with only by luck of
    // cv2's parameterization: near theta = pi the axis sign flips between
    // poses on either side of pi (rvec ~ +pi*k vs -pi*k are the same
    // rotation), so rvecs must be sign-aligned to an anchor before
    // averaging — a naive mean cancels them toward zero. The anchor is
    // the lowest-ord pose, the reference's first.
    require(sols.nonEmpty, "no poses in init sample")
    val anchor = sols.head
    val aligned = sols.map { s =>
      val dot = s(0) * anchor(0) + s(1) * anchor(1) + s(2) * anchor(2)
      if (dot < 0) Array(-s(0), -s(1), -s(2), s(3), s(4), s(5)) else s
    }
    Seq.tabulate(6)(i => aligned.map(_(i)).sum / aligned.length)
  }
}
