package graft

import org.apache.spark.sql.functions._
import graft.ops.Geometry

/** Pins the geometry kernels to the reference's cv2/scipy semantics
  * (image_cut_warp.py:28-31 getPerspectiveTransform,
  * extrinsic_calibration.py:76 Rodrigues,
  * point3d_transformation.py:87-120 euler/rigid transform).
  * Randomized properties live in GeometryProps (ScalaCheck).
  */
class GeometrySpec extends SparkSpec {

  private val unitSquare800 =
    Seq((0.0, 0.0), (800.0, 0.0), (800.0, 800.0), (0.0, 800.0))

  test("solveHomography maps the 4 source points exactly onto dst") {
    val src = Seq((12.0, 34.0), (780.0, 20.0), (790.0, 770.0), (15.0, 800.0))
    val h = Geometry.solveHomography(src, unitSquare800)
    src.zip(unitSquare800).foreach { case ((u, v), (du, dv)) =>
      val w = h(6) * u + h(7) * v + h(8)
      val (au, av) = ((h(0) * u + h(1) * v + h(2)) / w,
        (h(3) * u + h(4) * v + h(5)) / w)
      assert(math.abs(au - du) < 1e-9, s"u: $au vs $du")
      assert(math.abs(av - dv) < 1e-9, s"v: $av vs $dv")
    }
  }

  test("rodrigues theta->R->theta roundtrip (angle from trace)") {
    val cases = Seq((0.1, 0.2, 0.3), (1.0, 0.0, 0.0), (0.0, 0.0, 1.5),
      (-0.7, 0.4, -0.2))
    val (df, m) = Geometry.rodriguesStaged(
      spark.createDataFrame(cases).toDF("rx", "ry", "rz"),
      col("rx"), col("ry"), col("rz"))
    val rows = df.select(
      (m(0)(0) + m(1)(1) + m(2)(2)).as("trace"),
      sqrt(col("rx") * col("rx") + col("ry") * col("ry") +
        col("rz") * col("rz")).as("theta")).collect()
    rows.foreach { r =>
      val theta = r.getDouble(1)
      val recovered = math.acos(((r.getDouble(0) - 1.0) / 2.0)
        .max(-1.0).min(1.0))
      assert(math.abs(recovered - theta) < 1e-9,
        s"theta $theta vs recovered $recovered")
    }
  }

  test("rodrigues zero vector yields exact identity (cv2 semantics)") {
    val (df, m) = Geometry.rodriguesStaged(
      spark.range(1).select(lit(0.0).as("rx"), lit(0.0).as("ry"),
        lit(0.0).as("rz")),
      col("rx"), col("ry"), col("rz"))
    val out = df.select(
      (for (i <- 0 until 3; j <- 0 until 3) yield m(i)(j).as(s"r$i$j")): _*)
      .collect()(0)
    for (i <- 0 until 3; j <- 0 until 3)
      assert(out.getDouble(i * 3 + j) == (if (i == j) 1.0 else 0.0))
  }

  test("euler rotation preserves pairwise distances (rigid)") {
    val pts = Seq((1.0, 2.0, 3.0), (4.0, -1.0, 0.5), (-2.0, 0.0, 7.0))
    val (df, m) = Geometry.eulerZyxStaged(
      spark.createDataFrame(pts).toDF("x", "y", "z")
        .withColumn("a", lit(33.0)).withColumn("b", lit(-12.0))
        .withColumn("c", lit(71.0)),
      col("a"), col("b"), col("c"))
    def rot(i: Int) = m(i)(0) * col("x") + m(i)(1) * col("y") + m(i)(2) * col("z")
    val out = df.select(rot(0).as("px"), rot(1).as("py"), rot(2).as("pz"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    def dist(a: (Double, Double, Double), b: (Double, Double, Double)) =
      math.sqrt(math.pow(a._1 - b._1, 2) + math.pow(a._2 - b._2, 2) +
        math.pow(a._3 - b._3, 2))
    for (i <- pts.indices; j <- pts.indices if i < j) {
      val before = dist(pts(i), pts(j))
      val after = dist(out(i), out(j))
      assert(math.abs(before - after) < 1e-9, s"pair ($i,$j)")
    }
  }

  test("se3Inverse: T * inv(T) = I") {
    // rotation part from the exact Pythagorean rows used in GeoQueries
    val t = Seq(
      0.36, 0.48, -0.8, 10.0,
      -0.8, 0.6, 0.0, -5.0,
      0.48, 0.64, 0.6, 2.5,
      0.0, 0.0, 0.0, 1.0)
    val inv = Geometry.se3Inverse(t)
    for (i <- 0 until 4; j <- 0 until 4) {
      val v = (0 until 4).map(k => t(i * 4 + k) * inv(k * 4 + j)).sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(v - want) < 1e-12, s"($i,$j)=$v")
    }
  }

  test("r9 guard: non-finite input fails loudly; finite/null pass through") {
    // Spark's floor(double)->BIGINT mangles NaN/±Inf where DuckDB keeps
    // them — the r9 guard (GeoQueries.r9) must turn that silent
    // cross-engine divergence into a loud raise_error on the Spark side
    // (the oracle side then never sees a hash-mismatchable row).
    import spark.implicits._
    import graft.queries.GeoQueries
    val ok = Seq[java.lang.Double](1.2345678901, -0.5, null).toDF("x")
      .select(GeoQueries.r9(col("x")).as("r")).collect()
    assert(ok(0).getDouble(0) === 1.23456789)
    assert(ok(1).getDouble(0) === -0.5)
    assert(ok(2).isNullAt(0), "null input must stay null, not raise")
    def chainHas(t: Throwable, needle: String): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .exists(e => Option(e.getMessage).exists(_.contains(needle)))
    for (bad <- Seq(Double.PositiveInfinity, Double.NegativeInfinity,
        Double.NaN)) {
      val e = intercept[Exception] {
        Seq(bad).toDF("x").select(GeoQueries.r9(col("x"))).collect()
      }
      assert(chainHas(e, "r9: non-finite input"),
        s"input $bad: expected a loud r9 raise, got $e")
    }
  }
}
