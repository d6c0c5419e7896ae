package graft

import java.lang.Double.doubleToLongBits

import graft.ops.Geometry
import graft.pipeline.{Extrinsic, Intrinsic, Lm}

/** Golden test for the Zhang intrinsic-calibration composite
  * (camera_calib.py:95-119): the 15 chessboard views are reconstructed by
  * projecting the reference's own board grid (w=9, h=11, square=45 —
  * data_pipeline.py:21-23) through the golden K/dist/rvecs/tvecs of
  * /root/reference/src/output/camera_matrix.npz, at detect scale (the
  * reference calibrates on 0.5x-resized images, camera_calib.py:61-63).
  * A correct calibration must invert that projection and recover the
  * golden intrinsics from the synthesized corners alone.
  */
class IntrinsicSpec extends SparkSpec {

  // Golden values from camera_matrix.npz (cited above). K is the
  // full-resolution (rescaled) matrix the npz stores; detect-scale K
  // multiplies fx/fy/cx/cy by 0.5 (camera_calib.py:115-119 inverted).
  private val goldFx = 10140.370778863879
  private val goldFy = 10143.148933939869
  private val goldCx = 2498.3574089199687
  private val goldCy = 1688.7512125946034
  private val goldDist8 = Array(0.05582991308821821, 0.5417591073651778,
    -0.004499604070390621, -0.011038322260921827, 0.0, 0.0, 0.0,
    -0.26062987443617724)
  private val goldViews: Seq[(Seq[Double], Seq[Double])] = Seq(
    (Seq(0.096406795377285706, -0.27231996012814785, 0.078747244248413631), Seq(-175.00751093071486, -201.07932799068325, 1745.7610592585036)),
    (Seq(-0.21008678659852567, -0.12627999810717036, 0.020148507854843452), Seq(-190.09738355961153, -202.1819317764201, 1771.6871769680668)),
    (Seq(-0.10616801447811088, -0.063974965843739087, 0.086282845392116239), Seq(-157.5600816626488, -210.20907532033601, 1771.1248887853758)),
    (Seq(-0.16288803475489932, -0.057865805196690177, 0.0065117090354407598), Seq(-166.57151139774365, -186.8766600466023, 1767.2917859722597)),
    (Seq(-0.16165915054822488, -0.31480235776434645, 0.024940081112778879), Seq(-154.37836963394736, -194.31510793992987, 1721.2428756900138)),
    (Seq(-0.16189580401803885, -0.31370560410927772, 0.025064945053979749), Seq(-116.35673058405349, -194.28503385308903, 1744.5934818507928)),
    (Seq(-0.2383499182732105, -0.35954042978131162, 0.01484839398143804), Seq(-119.14692686372688, -193.17464565589003, 1753.4589943112144)),
    (Seq(-0.23758558407188621, -0.50612141873481031, 0.031047193680375309), Seq(-91.969158659657722, -209.46072635051266, 1707.7046532208524)),
    (Seq(-0.20486518773490037, -0.57369992189915753, 0.0041938021413974944), Seq(-90.146157610048888, -205.51723308305188, 1688.1143224839061)),
    (Seq(-0.15281121518450966, -0.58814496963383378, 0.021537849356460779), Seq(-37.886979964424704, -207.47545644545849, 1670.3583364347699)),
    (Seq(0.0060090034656206902, -0.41291321517211294, 0.058840883353902272), Seq(-30.378155157282816, -200.00015010419605, 1674.1210858110189)),
    (Seq(0.011431629446108964, -0.25274993180811356, 0.055738081427479227), Seq(-67.244482749924614, -199.42088634988738, 1684.8820187816316)),
    (Seq(0.24063931530958749, -0.23680034321024185, 0.08546553878824005), Seq(-41.410191145318251, -188.66158222143034, 1611.6882123839071)),
    (Seq(0.25135434498136111, -0.034579806240666693, 0.058123267795099749), Seq(-62.25649292477263, -187.94673922723987, 1642.9523548566922)),
    (Seq(0.23956350581594499, 0.07475480301336114, -0.0021757971644543604), Seq(-108.13086876032928, -185.09131632141168, 1618.976112562985)))

  /** Golden K at detect scale, row-major 9. */
  private val kDetect = Array(goldFx * 0.5, 0.0, goldCx * 0.5,
    0.0, goldFy * 0.5, goldCy * 0.5, 0.0, 0.0, 1.0)

  /** Board corner (X, Y, 0) of a view [rvec, tvec] projected to pixels. */
  private def project(rv: Seq[Double], tv: Seq[Double], dist: Array[Double],
      xw: Double, yw: Double): (Double, Double) =
    Geometry.projectCvScalar(Extrinsic.paramsToT(rv ++ tv).toArray, kDetect,
      dist, xw, yw, 0.0)

  /** (view_id, corner_idx, u, v, x, y) rows of the golden views projected
    * with `dist`, view by view in corner order.
    */
  private def syntheticRows(dist: Array[Double] = goldDist8,
      views: Seq[(Seq[Double], Seq[Double])] = goldViews) = {
    val objp = Intrinsic.objectPoints(9, 11, 45.0)
    views.zipWithIndex.flatMap { case ((rv, tv), i) =>
      objp.map { case (ci, xw, yw) =>
        val (u, v) = project(rv, tv, dist, xw, yw)
        (f"v$i%02d", ci, u, v, xw, yw)
      }
    }
  }

  private def syntheticCorners = {
    import spark.implicits._
    syntheticRows().toDF("view_id", "corner_idx", "u", "v", "x", "y")
  }

  /** Every double of a calibration result, as raw bits. */
  private def bits(r: Intrinsic.Result): Seq[Long] =
    (r.k ++ r.dist ++ r.views.flatMap(v => v.rvec ++ v.tvec) :+
      r.meanReprojError).map(doubleToLongBits)

  test("objectPoints follows the mgrid layout of camera_calib.py:49-51") {
    val p = Intrinsic.objectPoints(9, 11, 45.0)
    assert(p.length == 99)
    assert(p(0) == ((0, 0.0, 0.0)))
    assert(p(1) == ((1, 45.0, 0.0)))   // X varies fastest (i mod w)
    assert(p(9) == ((9, 0.0, 45.0)))   // Y steps every w corners
    assert(p(98) == ((98, 8 * 45.0, 10 * 45.0)))
  }

  test("homographyDLT recovers an exact homography from noise-free points") {
    val h = Array(1.2, 0.1, 30.0, -0.05, 0.9, 12.0, 1e-4, -2e-4, 1.0)
    val pts = for (x <- 0 until 9; y <- 0 until 11) yield {
      val w = h(6) * x * 45 + h(7) * y * 45 + h(8)
      ((x * 45.0), (y * 45.0),
        (h(0) * x * 45 + h(1) * y * 45 + h(2)) / w,
        (h(3) * x * 45 + h(4) * y * 45 + h(5)) / w)
    }
    val got = Intrinsic.homographyDLT(pts)
    h.indices.foreach { i =>
      assert(math.abs(got(i) - h(i)) < 1e-9,
        s"h($i): ${got(i)} vs ${h(i)}")
    }
  }

  test("calibrate recovers the golden K/dist from synthesized views") {
    val res = Intrinsic.calibrate(syntheticCorners, detectScale = 0.5)
    def rel(a: Double, b: Double) = math.abs(a - b) / math.abs(b)
    assert(rel(res.k(0), goldFx) < 1e-4, s"fx ${res.k(0)} vs $goldFx")
    assert(rel(res.k(4), goldFy) < 1e-4, s"fy ${res.k(4)} vs $goldFy")
    assert(rel(res.k(2), goldCx) < 1e-3, s"cx ${res.k(2)} vs $goldCx")
    assert(rel(res.k(5), goldCy) < 1e-3, s"cy ${res.k(5)} vs $goldCy")
    val distIdx = Seq(0, 1, 2, 3, 7)
    distIdx.foreach { i =>
      assert(math.abs(res.dist(i) - goldDist8(i)) < 1e-3,
        s"dist($i): ${res.dist(i)} vs ${goldDist8(i)}")
    }
    // zero-noise synthetic data => near-zero reprojection error
    assert(res.meanReprojError < 1e-3,
      s"mean reprojection error ${res.meanReprojError}")
    assert(res.views.length == 15)
    // per-view pose recovered too (first view, loose tolerance)
    val v0 = res.views.head
    goldViews.head._2.zip(v0.tvec).foreach { case (g, got) =>
      assert(math.abs(g - got) < 1.0, s"tvec: $got vs $g")
    }
  }

  test("zhangInitK lands in the convergence basin (no distortion case)") {
    val rows = syntheticRows(dist = Array.fill(8)(0.0))
    val hs = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, pts) =>
      Intrinsic.homographyDLT(pts.sortBy(_._2).map(p => (p._5, p._6, p._3, p._4)))
    }
    val (fx, fy, cx, cy) = Intrinsic.zhangInitK(hs)
    // distortion-free views => closed form alone is already close
    assert(math.abs(fx - goldFx * 0.5) / (goldFx * 0.5) < 0.02, s"fx init $fx")
    assert(math.abs(fy - goldFy * 0.5) / (goldFy * 0.5) < 0.02, s"fy init $fy")
    assert(math.abs(cx - goldCx * 0.5) < 60, s"cx init $cx")
    assert(math.abs(cy - goldCy * 0.5) < 60, s"cy init $cy")
  }

  test("calibrate does not depend on the input's partitioning or row order") {
    import spark.implicits._
    // 6 views with deterministic sub-pixel noise, rows shuffled, then
    // spread over 1 and over 7 partitions
    val rows = syntheticRows(views = goldViews.take(6)).map {
      case (id, ci, u, v, xw, yw) =>
        (id, ci, u + 0.3 * math.sin(ci * 12.9898), v + 0.3 * math.cos(ci * 78.233), xw, yw)
    }
    val shuffled = new scala.util.Random(7).shuffle(rows)
      .toDF("view_id", "corner_idx", "u", "v", "x", "y")
    val one = Intrinsic.calibrate(shuffled.repartition(1), maxIter = 10)
    val seven = Intrinsic.calibrate(shuffled.repartition(7), maxIter = 10)
    val ordered = Intrinsic.calibrate(
      rows.toDF("view_id", "corner_idx", "u", "v", "x", "y"), maxIter = 10)
    assert(one.views.map(_.viewId) == (0 until 6).map(i => f"v$i%02d"))
    assert(bits(one) == bits(seven), s"1 partition $one\n7 partitions $seven")
    assert(bits(one) == bits(ordered), s"shuffled $one\ncorner order $ordered")
  }

  test("calibrate runs exactly one Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft-intrinsic").toString
    syntheticCorners.repartition(3).write.mode("overwrite").parquet(dir)
    val corners = spark.read.parquet(dir)
    val (_, jobs) = withJobFrames(Intrinsic.calibrate(corners, maxIter = 2))
    assert(jobs.length == 1, s"calibrate jobs: ${jobs.map(_.mkString("\n"))}")
  }

  test("a corner with a null u fails the calibration") {
    import spark.implicits._
    val rows = syntheticRows(views = goldViews.take(3)).zipWithIndex.map {
      case ((id, ci, u, v, xw, yw), i) =>
        (id, ci, if (i == 57) None else Some(u), v, xw, yw)
    }
    val df = rows.toDF("view_id", "corner_idx", "u", "v", "x", "y")
    val e = intercept[IllegalArgumentException](Intrinsic.calibrate(df))
    assert(e.getMessage.contains("null"), e.getMessage)
  }

  test("refineBundle: the block-sparse Jacobian gives the dense one's result bit for bit") {
    // 6 views with deterministic sub-pixel noise, from a perturbed start
    val objp = Intrinsic.objectPoints(9, 11, 45.0)
    val viewPts = goldViews.take(6).map { case (rv, tv) =>
      objp.map { case (ci, xw, yw) =>
        val (u, v) = project(rv, tv, goldDist8, xw, yw)
        (xw, yw, u + 0.3 * math.sin(ci * 12.9898), v + 0.3 * math.cos(ci * 78.233))
      }
    }.toIndexedSeq
    val init = Array(goldFx * 0.5 * 1.01, goldFy * 0.5 * 0.99, goldCx * 0.5 + 5,
      goldCy * 0.5 - 5, 0.0, 0.0, 0.0, 0.0, 0.0) ++
      goldViews.take(6).flatMap { case (rv, tv) =>
        rv.map(_ + 0.01) ++ tv.map(_ + 2.0)
      }
    val nParams = init.length

    // the dense central-difference normal equations: every column is
    // two full residual passes over all views
    def residuals(p: Array[Double]): Array[Double] = viewPts.indices.toArray.flatMap { v =>
      val k = Array(p(0), 0.0, p(2), 0.0, p(1), p(3), 0.0, 0.0, 1.0)
      val d8 = Array(p(4), p(5), p(6), p(7), 0.0, 0.0, 0.0, p(8))
      val t = Extrinsic.paramsToT(p.slice(9 + 6 * v, 15 + 6 * v).toSeq).toArray
      viewPts(v).toArray.flatMap { case (xw, yw, u, vv) =>
        val (up, vp) = Geometry.projectCvScalar(t, k, d8, xw, yw, 0.0)
        Array(up - u, vp - vv)
      }
    }
    def sumSq(r: Array[Double]) = r.map(x => x * x).sum
    def denseNormalEq(p: Array[Double]) = {
      val r = residuals(p)
      val jac = Array.ofDim[Double](r.length, nParams)
      for (j <- 0 until nParams) {
        val h = 1e-6 * math.max(math.abs(p(j)), 1e-3)
        val pp = p.clone(); pp(j) += h
        val pm = p.clone(); pm(j) -= h
        val rp = residuals(pp); val rm = residuals(pm)
        for (i <- r.indices) jac(i)(j) = (rp(i) - rm(i)) / (2 * h)
      }
      val jtj = Array.ofDim[Double](nParams, nParams)
      val jtr = new Array[Double](nParams)
      for (i <- r.indices; a <- 0 until nParams) {
        jtr(a) += jac(i)(a) * r(i)
        for (b <- a until nParams) jtj(a)(b) += jac(i)(a) * jac(i)(b)
      }
      for (a <- 0 until nParams; b <- 0 until a) jtj(a)(b) = jtj(b)(a)
      (jtj, jtr, sumSq(r))
    }

    val want = Lm.minimize(init, 4)(denseNormalEq, p => sumSq(residuals(p)))._1
    val got = Intrinsic.refineBundle(viewPts, init, maxIter = 4)
    assert(!got.sameElements(init), "the bundle did not move")
    assert(got.map(doubleToLongBits).toSeq == want.map(doubleToLongBits).toSeq,
      s"block-sparse ${got.mkString(",")}\ndense ${want.mkString(",")}")
  }
}
