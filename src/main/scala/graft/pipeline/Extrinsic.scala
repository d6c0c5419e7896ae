package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Geometry

/** The reference's extrinsic-calibration composite (SURVEY.md §2.9;
  * extrinsic_calibration.py:244-316):
  *
  *   A. validate: key-intersection of pixel/world corner tables (J2/A6)
  *   B. init: per-pose planar PnP via mapGroups over the first N poses,
  *      column-mean of rvec/tvec (extrinsic_calibration.py:41-79)
  *   C. refine: driver-side Levenberg-Marquardt on the 6 params, where
  *      every iteration's J^T J / J^T r / cost are ONE mapPartitions pass
  *      over the corner table, each partition folded to 28 doubles (the
  *      Spark MLlib pattern — at 100 TB each iteration is a single
  *      shuffle-free pass)
  *   D. evaluate: per-point reprojection error -> per-pose mean -> grand
  *      stats (X5 / A2 / A1), golden-matched against camera_extrinsic.npz
  *
  * All per-point math is the scalar kernel Geometry.projectCvScalar (the
  * bit-identical twin of Geometry.rigidTransform + projectPointCv) inside
  * typed Dataset passes, with the parameters in the closure: an LM step
  * re-plans and re-compiles nothing. Only the 6-parameter solve itself
  * lives on the driver.
  */
object Extrinsic {

  /** (pose_id, ord, corner_idx, u, v, x, y, z) — pixel+world corners. */
  def loadCorners(spark: SparkSession, fixturesDir: String): DataFrame = {
    val pix = spark.read.parquet(s"$fixturesDir/pixel_corners.parquet")
    val wld = spark.read.parquet(s"$fixturesDir/world_corners.parquet")
      .drop("ord")
    pix.join(wld, Seq("pose_id", "corner_idx"))
  }

  /** (u, v, x, y, z) of every corner as doubles, rows with a null among
    * them dropped: the typed input of refine and reprojectionStats. A null
    * input makes a null residual, which sum() and the six stats skip, so
    * dropping the row here changes no sum, average or order.
    */
  private def points(corners: DataFrame)
      : Dataset[(Double, Double, Double, Double, Double)] = {
    val spark = corners.sparkSession
    import spark.implicits._
    corners.select(Seq("u", "v", "x", "y", "z").map(c => col(c).cast("double")): _*)
      .na.drop().as[(Double, Double, Double, Double, Double)]
  }

  /** Stage D: mean/std_pop/max/min/median/RMSE over all point errors
    * (extrinsic_calibration.py:216-226). Returns the 6 stats.
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
  def reprojectionStats(corners: DataFrame, k: Seq[Double],
      dist: Seq[Double], t: Seq[Double]): Map[String, Double] = {
    val spark = corners.sparkSession
    import spark.implicits._
    val (ta, ka, da) = (t.toArray, k.toArray, dist.toArray)
    val e = points(corners).map { case (u, v, x, y, z) =>
      val (up, vp) = Geometry.projectCvScalar(ta, ka, da,
        x.toFloat.toDouble, y.toFloat.toDouble, z.toFloat.toDouble)
      val (du, dv) = (up - u, vp - v)
      math.sqrt(du * du + dv * dv)
    }.toDF("err")
    val r = e.agg(
      avg("err"), stddev_pop(col("err")), max("err"), min("err"),
      median(col("err")), sqrt(avg(col("err") * col("err")))).collect()(0)
    Map(
      "mean_error" -> r.getDouble(0), "std_error" -> r.getDouble(1),
      "max_error" -> r.getDouble(2), "min_error" -> r.getDouble(3),
      "median_error" -> r.getDouble(4), "rmse" -> r.getDouble(5))
  }

  // ---- plain-Scala small linear algebra (driver/executor kernels) ----

  /** Rodrigues vector -> row-major 3x3 (scala twin of Geometry.rodrigues). */
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
    * iteration's normal equations are one mapPartitions job over the
    * typed (u, v, x, y, z) corners: per row the kernel projects at the
    * base parameters and at the 6 forward-difference points, and the
    * partition folds the residual and Jacobian row into one 28-double
    * buffer [cost, J^T J upper triangle, J^T r]. The #partitions x 28
    * doubles are collected and summed on the driver in partition order
    * (SURVEY §4's 100-TB accumulator form: what crosses the driver
    * boundary is bounded by the partition count, never by the corners).
    * Each damping attempt is one mapPartitions job of per-partition sums
    * of squared residuals. The parameters ride in the closures, so no
    * step re-plans or re-compiles a query. Rows with a null input add
    * nothing. Returns the parameters and the sum of squared residuals at
    * them.
    */
  def refine(corners: DataFrame, k: Seq[Double], dist: Seq[Double],
      init: Seq[Double], maxIter: Int = 50, eps: Double = 1e-6)
      : (Seq[Double], Double) = {
    val spark = corners.sparkSession
    import spark.implicits._
    val pts = points(corners)
    val (ka, da) = (k.toArray, dist.toArray)

    // the job-running lambdas stay anonymous functions of refine, so their
    // jobs' call sites read `Extrinsic$.$anonfun$refine$N` (per-layer
    // attribution files a job under its innermost graft frame)
    val (best, cost) = Lm.minimize(init.toArray, maxIter)(
      p => {
        // T at p, then at p + eps in each of the 6 parameters
        val ts = (p +: (0 until 6).map { i =>
          val pi = p.clone(); pi(i) += eps; pi
        }).map(q => paramsToT(q.toSeq).toArray).toArray
        val parts = pts.mapPartitions { it =>
          val buf = new Array[Double](28)
          val ju = new Array[Double](6); val jv = new Array[Double](6)
          it.foreach { case (u, v, x, y, z) =>
            val (u0, v0) = Geometry.projectCvScalar(ts(0), ka, da, x, y, z)
            val (ru, rv) = (u0 - u, v0 - v)
            var i = 0
            while (i < 6) {
              val (ui, vi) = Geometry.projectCvScalar(ts(i + 1), ka, da, x, y, z)
              ju(i) = ((ui - u) - ru) / eps; jv(i) = ((vi - v) - rv) / eps
              i += 1
            }
            buf(0) += ru * ru + rv * rv
            var idx = 1
            var a = 0
            while (a < 6) {
              var b = a
              while (b < 6) {
                buf(idx) += ju(a) * ju(b) + jv(a) * jv(b)
                idx += 1
                b += 1
              }
              buf(22 + a) += ju(a) * ru + jv(a) * rv
              a += 1
            }
          }
          Iterator.single(buf)
        }.collect()
        val ne = new Array[Double](28)
        parts.foreach(b => (0 until 28).foreach(i => ne(i) += b(i)))
        val jtj = Array.ofDim[Double](6, 6)
        var idx = 1
        for (i <- 0 until 6; j <- i until 6) {
          jtj(i)(j) = ne(idx); jtj(j)(i) = jtj(i)(j); idx += 1
        }
        (jtj, Array.tabulate(6)(i => ne(idx + i)), ne(0))
      },
      p => {
        val t = paramsToT(p.toSeq).toArray
        pts.mapPartitions { it =>
          var s = 0.0
          it.foreach { case (u, v, x, y, z) =>
            val (up, vp) = Geometry.projectCvScalar(t, ka, da, x, y, z)
            val (du, dv) = (up - u, vp - v)
            s += du * du + dv * dv
          }
          Iterator.single(s)
        }.collect().foldLeft(0.0)(_ + _)
      })
    (best.toSeq, cost)
  }

  /** Stage B: per-pose planar PnP (the 4 sample corners are coplanar —
    * the TOOL-frame source square, point3d_transformation.py:139-140):
    * build a deterministic plane frame, solve the plane->normalized-image
    * homography exactly (4 points), decompose to [R|t], compose back to
    * camera-from-BASE. Distortion is ignored at init (it is an init).
    * Runs as mapGroups per pose; rvec/tvec averaged over the sample
    * (extrinsic_calibration.py:72-73 np.mean(axis=0)).
    */
  def initPnp(corners: DataFrame, k: Seq[Double], sampleSize: Int = 20)
      : Seq[Double] = {
    val spark = corners.sparkSession
    import spark.implicits._
    val (fx, fy, cx0, cy0) = (k(0), k(4), k(2), k(5))
    val sample = corners.filter(col("ord") < sampleSize)
      .select(col("pose_id"), col("corner_idx"),
        col("u"), col("v"), col("x"), col("y"), col("z"))
      .as[(String, Long, Double, Double, Double, Double, Double)]
    val poses = sample.groupByKey(_._1).mapGroups { (_, it) =>
      val pts = it.toSeq.sortBy(_._2)
      val w = pts.map(p => Array(p._5, p._6, p._7)) // world, BASE frame
      val px = pts.map(p => ((p._3 - cx0) / fx, (p._4 - cy0) / fy))
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
      val plane2d = w.map(p => (dot3(sub(p, o), e1), dot3(sub(p, o), e2)))
      // homography plane2d -> normalized image
      val h = Geometry.solveHomography(plane2d, px)
      // pose of the plane in the camera; px is already K^-1-normalized
      val (rcp, tp) = Intrinsic.poseFromH(h, 1.0, 1.0, 0.0, 0.0)
      // R_cam_plane * Q^T where Q = [e1 e2 n] (plane->BASE)
      val q = Array(e1, e2, n) // rows = plane axes in BASE => Q^T rows
      val r = Array.tabulate(3, 3)((i, j) =>
        dot3(rcp.slice(3 * i, 3 * i + 3), Array(q(0)(j), q(1)(j), q(2)(j))))
      val rflat = r.flatten
      val t = Array.tabulate(3)(i => tp(i) - dot3(r(i), o))
      val rvec = rodriguesInv(rflat.toSeq)
      (rvec(0), rvec(1), rvec(2), t(0), t(1), t(2))
    }
    // Column-mean of the sampled solutions (extrinsic_calibration.py:72-73)
    // with one correction the reference gets away with only by luck of
    // cv2's parameterization: near theta = pi the axis sign flips between
    // poses on either side of pi (rvec ~ +pi*k vs -pi*k are the same
    // rotation), so rvecs must be sign-aligned to an anchor before
    // averaging — a naive mean cancels them toward zero.
    val sols = poses.collect()
    require(sols.nonEmpty, "no poses in init sample")
    val anchor = Array(sols.head._1, sols.head._2, sols.head._3)
    val aligned = sols.map { s =>
      val dot = s._1 * anchor(0) + s._2 * anchor(1) + s._3 * anchor(2)
      if (dot < 0) (-s._1, -s._2, -s._3, s._4, s._5, s._6) else s
    }
    val n = aligned.length.toDouble
    Seq(
      aligned.map(_._1).sum / n, aligned.map(_._2).sum / n,
      aligned.map(_._3).sum / n, aligned.map(_._4).sum / n,
      aligned.map(_._5).sum / n, aligned.map(_._6).sum / n)
  }
}
