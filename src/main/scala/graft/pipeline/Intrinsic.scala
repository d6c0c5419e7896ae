package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Geometry

/** The reference's intrinsic-calibration composite (camera_calib.py:9-131,
  * guard at data_pipeline.py:19-24): chessboard views -> camera matrix K +
  * rational distortion + per-view poses + mean reprojection error, with the
  * final K rescaled by the 0.5 detect scale (camera_calib.py:115-119).
  *
  * One collect, then the driver: the corner table is read with ONE
  * `collect` of (view_id, corner_idx, x, y, u, v) and each view's points
  * are sorted by corner_idx once; every step below runs on that one
  * point set. This mirrors the reference exactly: cv2.calibrateCamera IS
  * a single driver call over in-memory point lists (SURVEY.md §2.8
  * "driver-side after Spark collects per-image point sets"). The collect
  * is bounded by #views x #corners (15 x 99 here) — intrinsic calibration
  * input is a handful of chessboard views regardless of corpus scale, so
  * this is NOT a 100-TB funnel; the 100-TB-sized tables never pass here.
  * Views are taken in view_id order and points in corner_idx order, so
  * the result does not depend on how the input is partitioned.
  *   1. per-view plane->image homographies: normalized DLT least-squares
  *      over ALL the view's corners — the Zhang analogue of
  *      cv2.findChessboardCorners feeding calibrateCamera;
  *   2. closed-form K init from the B-matrix constraints of Zhang's method
  *      (the algorithm inside cv2.calibrateCamera's init, public knowledge);
  *   3. per-view pose init (poseFromH) and the LM bundle polish over
  *      [fx,fy,cx,cy,k1,k2,p1,p2,k6] + 6 params/view;
  *   4. mean reprojection error per camera_calib.py:104-113: per view
  *      sqrt(sum du² + dv²) / #points through the scalar kernel
  *      Geometry.projectCvScalar (the bit-identical twin of the Column
  *      forms rigidTransform + projectPointCvStaged), then the mean over views.
  *
  * Distortion parameterization follows the reference's flags
  * (CALIB_RATIONAL_MODEL | FIX_K3..K5, camera_calib.py:101-102): free
  * parameters k1,k2,p1,p2 and k6 (index 7 of the cv2 14-vector), all
  * others pinned to zero.
  */
object Intrinsic {

  /** One view's solved pose. */
  final case class ViewPose(viewId: String, rvec: Seq[Double], tvec: Seq[Double])

  /** Calibration output: K row-major 9 (already rescaled to full
    * resolution), cv2-layout 14-vector dist, per-view poses (at detect
    * scale), and the reference's mean reprojection error (detect scale,
    * camera_calib.py:113).
    */
  final case class Result(k: Seq[Double], dist: Seq[Double],
      views: Seq[ViewPose], meanReprojError: Double)

  /** X13: the chessboard world grid of camera_calib.py:49-51 —
    * np.mgrid[0:w,0:h].T.reshape(-1,2) * square puts corner i at
    * (X, Y) = ((i mod w) * square, (i div w) * square), Z = 0.
    */
  def objectPoints(w: Int, h: Int, square: Double): Seq[(Int, Double, Double)] =
    (0 until w * h).map(i => (i, (i % w) * square, (i / w) * square))

  // ------------------------------------------------------------------
  // small symmetric linear algebra (driver/executor kernels)
  // ------------------------------------------------------------------

  /** Eigenvector of the smallest eigenvalue of a symmetric matrix, by
    * cyclic Jacobi rotations. Sizes here are 9x9 (DLT) and 6x6 (Zhang's
    * V^T V), where Jacobi is exact-enough and dependency-free.
    */
  private[graft] def smallestEigvec(a0: Array[Array[Double]]): Array[Double] = {
    val n = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-30) {
      off = 0.0
      for (p <- 0 until n - 1; q <- p + 1 until n) {
        off += a(p)(q) * a(p)(q)
        if (math.abs(a(p)(q)) > 1e-300) {
          val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
          val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1))
          val c = 1 / math.sqrt(t * t + 1)
          val s = t * c
          for (k <- 0 until n) {
            val akp = a(k)(p); val akq = a(k)(q)
            a(k)(p) = c * akp - s * akq
            a(k)(q) = s * akp + c * akq
          }
          for (k <- 0 until n) {
            val apk = a(p)(k); val aqk = a(q)(k)
            a(p)(k) = c * apk - s * aqk
            a(q)(k) = s * apk + c * aqk
          }
          for (k <- 0 until n) {
            val vkp = v(k)(p); val vkq = v(k)(q)
            v(k)(p) = c * vkp - s * vkq
            v(k)(q) = s * vkp + c * vkq
          }
        }
      }
      sweep += 1
    }
    val minIdx = (0 until n).minBy(i => a(i)(i))
    Array.tabulate(n)(k => v(k)(minIdx))
  }

  // ------------------------------------------------------------------
  // 1. per-view DLT homography
  // ------------------------------------------------------------------

  /** Least-squares plane->image homography from all of one view's corners
    * (normalized DLT: Hartley-conditioned A^T A, smallest eigenvector).
    * Unlike Geometry.solveHomography (exact 4-point,
    * cv2.getPerspectiveTransform), this is the overdetermined form a
    * chessboard's 99 corners need. Input tuples are (X, Y, u, v).
    */
  def homographyDLT(pts: Seq[(Double, Double, Double, Double)]): Array[Double] = {
    require(pts.length >= 4, "homography needs >= 4 points")
    def conditioner(xs: Seq[Double], ys: Seq[Double]): Array[Double] = {
      val n = xs.length
      val mx = xs.sum / n; val my = ys.sum / n
      val md = xs.zip(ys).map { case (x, y) =>
        math.sqrt((x - mx) * (x - mx) + (y - my) * (y - my))
      }.sum / n
      val s = if (md > 1e-12) math.sqrt(2.0) / md else 1.0
      Array(s, 0, -s * mx, 0, s, -s * my, 0, 0, 1) // row-major 3x3
    }
    val t1 = conditioner(pts.map(_._1), pts.map(_._2))
    val t2 = conditioner(pts.map(_._3), pts.map(_._4))
    def apply3(t: Array[Double], x: Double, y: Double) =
      (t(0) * x + t(1) * y + t(2), t(3) * x + t(4) * y + t(5))
    val ata = Array.ofDim[Double](9, 9)
    def rankUpdate(row: Array[Double]): Unit =
      for (i <- 0 until 9; j <- 0 until 9) ata(i)(j) += row(i) * row(j)
    pts.foreach { case (xw, yw, ui, vi) =>
      val (x, y) = apply3(t1, xw, yw)
      val (u, v) = apply3(t2, ui, vi)
      rankUpdate(Array(x, y, 1, 0, 0, 0, -u * x, -u * y, -u))
      rankUpdate(Array(0, 0, 0, x, y, 1, -v * x, -v * y, -v))
    }
    val hn = smallestEigvec(ata) // row-major normalized H
    // H = T2^-1 Hn T1; T2^-1 for [s,0,tx;0,s,ty;0,0,1] is [1/s,0,-tx/s;...]
    val s2 = t2(0)
    val t2inv = Array(1 / s2, 0, -t2(2) / s2, 0, 1 / s2, -t2(5) / s2, 0, 0, 1)
    def mul3(a: Array[Double], b: Array[Double]): Array[Double] =
      Array.tabulate(9) { k =>
        val (i, j) = (k / 3, k % 3)
        a(i * 3) * b(j) + a(i * 3 + 1) * b(3 + j) + a(i * 3 + 2) * b(6 + j)
      }
    val h = mul3(mul3(t2inv, hn), t1)
    if (math.abs(h(8)) > 1e-12) h.map(_ / h(8)) else h
  }

  // ------------------------------------------------------------------
  // 2. closed-form Zhang init (#views x 9 doubles)
  // ------------------------------------------------------------------

  /** K init from per-view homographies via the image-of-the-absolute-conic
    * constraints (Zhang 2000, the init inside cv2.calibrateCamera).
    * Returns (fx, fy, cx, cy); skew forced to 0 like cv2.
    */
  def zhangInitK(hs: Seq[Array[Double]]): (Double, Double, Double, Double) = {
    require(hs.length >= 2, "Zhang init needs >= 2 views")
    // v_ij built from columns i,j of H (row-major: column c = (h(c),h(3+c),h(6+c)))
    def vij(h: Array[Double], i: Int, j: Int): Array[Double] = {
      val (h1i, h2i, h3i) = (h(i), h(3 + i), h(6 + i))
      val (h1j, h2j, h3j) = (h(j), h(3 + j), h(6 + j))
      Array(h1i * h1j, h1i * h2j + h2i * h1j, h2i * h2j,
        h3i * h1j + h1i * h3j, h3i * h2j + h2i * h3j, h3i * h3j)
    }
    val vtv = Array.ofDim[Double](6, 6)
    def rankUpdate(r: Array[Double]): Unit =
      for (i <- 0 until 6; j <- 0 until 6) vtv(i)(j) += r(i) * r(j)
    hs.foreach { h =>
      rankUpdate(vij(h, 0, 1))
      val v11 = vij(h, 0, 0); val v22 = vij(h, 1, 1)
      rankUpdate(Array.tabulate(6)(i => v11(i) - v22(i)))
    }
    var b = smallestEigvec(vtv)
    if (b(0) < 0) b = b.map(-_) // B must be (proportional to) positive definite
    val Array(b11, b12, b22, b13, b23, b33) = b
    val v0 = (b12 * b13 - b11 * b23) / (b11 * b22 - b12 * b12)
    val lam = b33 - (b13 * b13 + v0 * (b12 * b13 - b11 * b23)) / b11
    require(lam / b11 > 0 && lam * b11 / (b11 * b22 - b12 * b12) > 0,
      "Zhang init: degenerate homography set")
    val alpha = math.sqrt(lam / b11)
    val beta = math.sqrt(lam * b11 / (b11 * b22 - b12 * b12))
    val u0 = -b13 * alpha * alpha / lam // skew = 0
    (alpha, beta, u0, v0)
  }

  /** Pose of a plane from its plane->image homography and K, the one
    * homography -> [R|t] step: r1 = l K^-1 h1, r2 = l K^-1 h2,
    * t = l K^-1 h3 with l = 2 / (|K^-1 h1| + |K^-1 h2|); sign chosen so
    * the plane sits in front of the camera (tz > 0); Gram-Schmidt back to
    * SO(3), r3 = r1 x r2. Returns (R row-major 9, t). Extrinsic.initPnp
    * passes K = I for a homography onto normalized image coordinates.
    */
  def poseFromH(h: Array[Double], fx: Double, fy: Double,
      cx: Double, cy: Double): (Array[Double], Array[Double]) = {
    def kinv(x: Double, y: Double, w: Double) =
      Array((x - cx * w) / fx, (y - cy * w) / fy, w)
    var c1 = kinv(h(0), h(3), h(6))
    var c2 = kinv(h(1), h(4), h(7))
    var t = kinv(h(2), h(5), h(8))
    def nrm(a: Array[Double]) = math.sqrt(a.map(x => x * x).sum)
    val l = 2.0 / (nrm(c1) + nrm(c2))
    c1 = c1.map(_ * l); c2 = c2.map(_ * l); t = t.map(_ * l)
    if (t(2) < 0) { c1 = c1.map(-_); c2 = c2.map(-_); t = t.map(-_) }
    val r1 = c1.map(_ / nrm(c1))
    val d = r1(0) * c2(0) + r1(1) * c2(1) + r1(2) * c2(2)
    val o2 = Array.tabulate(3)(i => c2(i) - d * r1(i))
    val r2 = o2.map(_ / nrm(o2))
    val r3 = Array(
      r1(1) * r2(2) - r1(2) * r2(1),
      r1(2) * r2(0) - r1(0) * r2(2),
      r1(0) * r2(1) - r1(1) * r2(0))
    (Array(r1(0), r2(0), r3(0), r1(1), r2(1), r3(1), r1(2), r2(2), r3(2)), t)
  }

  // ------------------------------------------------------------------
  // 3. LM bundle polish (bounded by #views x #corners)
  // ------------------------------------------------------------------

  /** LM (Lm.minimize) over the bundle [fx,fy,cx,cy,k1,k2,p1,p2,k6] ++
    * 6/view. `viewPts(v)` = that view's (X, Y, u, v) corners on the board
    * plane Z = 0, projected with Geometry.projectCvScalar. Pure-Scala
    * numeric Jacobian (central differences) — at #views x #corners points
    * this is microseconds per iteration, the same boundary the reference
    * crosses when it hands its point lists to cv2.calibrateCamera.
    *
    * The Jacobian is block-sparse: a view's 6 pose columns move only that
    * view's residuals, so those columns re-evaluate just the perturbed
    * view and leave every other row at 0.0, which is exactly what the
    * dense difference of two equal finite residuals gives. Per iteration
    * that is 1 + 18 full passes + 12 single-view passes per view, and the
    * dense J^T J accumulation order is kept, so the result is bit-identical
    * to the dense Jacobian's.
    */
  def refineBundle(viewPts: IndexedSeq[Seq[(Double, Double, Double, Double)]],
      init: Array[Double], maxIter: Int = 80): Array[Double] = {
    val nViews = viewPts.length
    val nParams = 9 + 6 * nViews
    require(init.length == nParams)
    // view v's residuals occupy [offs(v), offs(v + 1))
    val offs = viewPts.scanLeft(0)(_ + 2 * _.length)
    val nRes = offs.last

    def viewResiduals(p: Array[Double], v: Int, out: Array[Double]): Unit = {
      val k = Array(p(0), 0.0, p(2), 0.0, p(1), p(3), 0.0, 0.0, 1.0)
      val dist8 = Array(p(4), p(5), p(6), p(7), 0.0, 0.0, 0.0, p(8))
      val t = Extrinsic.paramsToT(p.slice(9 + 6 * v, 15 + 6 * v).toSeq).toArray
      var i = offs(v)
      viewPts(v).foreach { case (xw, yw, u, vv) =>
        val (up, vp) = Geometry.projectCvScalar(t, k, dist8, xw, yw, 0.0)
        out(i) = up - u; out(i + 1) = vp - vv
        i += 2
      }
    }
    def residuals(p: Array[Double]): Array[Double] = {
      val out = new Array[Double](nRes)
      (0 until nViews).foreach(viewResiduals(p, _, out))
      out
    }
    def sumSq(r: Array[Double]) = r.map(x => x * x).sum

    def normalEq(p: Array[Double]) = {
      val r = residuals(p)
      // central-difference Jacobian, step scaled per parameter; the 9
      // intrinsics move every view, a pose column only its own view
      val jac = Array.ofDim[Double](nRes, nParams)
      val rp = new Array[Double](nRes); val rm = new Array[Double](nRes)
      for (j <- 0 until nParams) {
        val h = 1e-6 * math.max(math.abs(p(j)), 1e-3)
        val pp = p.clone(); pp(j) += h
        val pm = p.clone(); pm(j) -= h
        val vs = if (j < 9) 0 until nViews else Seq((j - 9) / 6)
        vs.foreach { v => viewResiduals(pp, v, rp); viewResiduals(pm, v, rm) }
        var i = offs(vs.head)
        while (i < offs(vs.last + 1)) {
          jac(i)(j) = (rp(i) - rm(i)) / (2 * h); i += 1
        }
      }
      val jtj = Array.ofDim[Double](nParams, nParams)
      val jtr = new Array[Double](nParams)
      var i = 0
      while (i < nRes) {
        val row = jac(i); val ri = r(i)
        var a = 0
        while (a < nParams) {
          jtr(a) += row(a) * ri
          var b = a
          while (b < nParams) { jtj(a)(b) += row(a) * row(b); b += 1 }
          a += 1
        }
        i += 1
      }
      for (a <- 0 until nParams; b <- 0 until a) jtj(a)(b) = jtj(b)(a)
      (jtj, jtr, sumSq(r))
    }

    Lm.minimize(init, maxIter)(normalEq, p => sumSq(residuals(p)))._1
  }

  // ------------------------------------------------------------------
  // 4. reprojection error + the composite
  // ------------------------------------------------------------------

  /** The cam_calib composite (camera_calib.py:95-119). Input: long-form
    * corner table (view_id, corner_idx, u, v, x, y) at DETECT scale (the
    * reference detects on 0.5x images). Output K is rescaled to full
    * resolution by 1/detectScale (X10, camera_calib.py:115-119); dist and
    * the error stay at detect scale exactly like the reference.
    */
  def calibrate(corners: DataFrame, detectScale: Double = 0.5,
      maxIter: Int = 80): Result = {
    // the one Spark job: every corner to the driver; a null anywhere fails
    // the calibration instead of dropping the corner
    val rows = corners.select(col("view_id"), col("corner_idx").cast("long"),
        col("x").cast("double"), col("y").cast("double"),
        col("u").cast("double"), col("v").cast("double"))
      .collect()
    rows.find(_.anyNull).foreach(r =>
      throw new IllegalArgumentException(s"calibrate: corner with a null field: $r"))
    // view_id order, then each view's (X, Y, u, v) in corner_idx order
    val byView = rows.groupBy(_.getString(0)).toSeq.sortBy(_._1)
    val viewIds = byView.map(_._1)
    val viewPts = byView.map { case (_, rs) =>
      rs.sortBy(_.getLong(1)).map(r =>
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    }.toIndexedSeq
    val hs = viewPts.map(homographyDLT)
    val (fx0, fy0, cx0, cy0) = zhangInitK(hs)
    val init = Array(fx0, fy0, cx0, cy0, 0.0, 0.0, 0.0, 0.0, 0.0) ++
      hs.flatMap { h =>
        val (r, t) = poseFromH(h, fx0, fy0, cx0, cy0)
        Extrinsic.rodriguesInv(r.toSeq) ++ t
      }
    val p = refineBundle(viewPts, init, maxIter)
    val views = viewIds.zipWithIndex.map { case (id, i) =>
      val b = 9 + 6 * i
      ViewPose(id, Seq(p(b), p(b + 1), p(b + 2)),
        Seq(p(b + 3), p(b + 4), p(b + 5)))
    }
    // camera_calib.py:104-113 at detect scale: per-view
    // L2-norm-of-residuals / #points, then the mean across views
    val kDetect = Array(p(0), 0.0, p(2), 0.0, p(1), p(3), 0.0, 0.0, 1.0)
    val dist14 = Seq(p(4), p(5), p(6), p(7), 0.0, 0.0, 0.0, p(8),
      0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val distA = dist14.toArray
    val viewErrs = views.zip(viewPts).map { case (pose, pts) =>
      val t = Extrinsic.paramsToT(pose.rvec ++ pose.tvec).toArray
      val sq = pts.map { case (xw, yw, u, v) =>
        val (pu, pv) = Geometry.projectCvScalar(t, kDetect, distA, xw, yw, 0.0)
        (pu - u) * (pu - u) + (pv - v) * (pv - v)
      }
      math.sqrt(sq.sum) / pts.length
    }
    val err = viewErrs.sum / viewErrs.length
    // X10 rescale to full resolution (camera_calib.py:115-119)
    val k = Seq(p(0) / detectScale, 0.0, p(2) / detectScale,
      0.0, p(1) / detectScale, p(3) / detectScale, 0.0, 0.0, 1.0)
    Result(k, dist14, views, err)
  }
}
