package graft

import java.lang.Double.doubleToLongBits

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Properties}
import graft.ops.Geometry
import graft.pipeline.Extrinsic

/** ScalaCheck properties for the pure-Scala geometry kernels
  * (SURVEY.md §5 item 3), and the scalar projection kernel against the
  * Catalyst Column form it twins.
  */
object GeometryProps extends Properties("geometry") {

  private val coord = Gen.choose(0.0, 1000.0)
  private val quad: Gen[Seq[(Double, Double)]] = for {
    xs <- Gen.listOfN(4, coord); ys <- Gen.listOfN(4, coord)
  } yield xs.zip(ys)

  private def nonDegenerate(q: Seq[(Double, Double)]): Boolean = {
    def area(a: (Double, Double), b: (Double, Double), c: (Double, Double)) =
      math.abs((b._1 - a._1) * (c._2 - a._2) - (c._1 - a._1) * (b._2 - a._2))
    q.combinations(3).forall(t => area(t(0), t(1), t(2)) > 1.0)
  }

  property("solveHomography maps src corners onto dst corners") =
    Prop.forAll(quad, quad) { (src, dst) =>
      !(nonDegenerate(src) && nonDegenerate(dst)) || {
        val h = Geometry.solveHomography(src, dst)
        src.zip(dst).forall { case ((u, v), (du, dv)) =>
          val w = h(6) * u + h(7) * v + h(8)
          math.abs((h(0) * u + h(1) * v + h(2)) / w - du) < 1e-5 &&
          math.abs((h(3) * u + h(4) * v + h(5)) / w - dv) < 1e-5
        }
      }
    }

  property("se3Inverse is an involution") = {
    val angle = Gen.choose(-math.Pi, math.Pi)
    val trans = Gen.choose(-100.0, 100.0)
    Prop.forAll(angle, trans, trans, trans) { (a, tx, ty, tz) =>
      // rotation about z by a + translation — a valid SE(3) element
      val (c, s) = (math.cos(a), math.sin(a))
      val t = Seq(
        c, -s, 0.0, tx,
        s, c, 0.0, ty,
        0.0, 0.0, 1.0, tz,
        0.0, 0.0, 0.0, 1.0)
      val back = Geometry.se3Inverse(Geometry.se3Inverse(t))
      t.zip(back).forall { case (x, y) => math.abs(x - y) < 1e-9 }
    }
  }

  // ---- projectCvScalar: the Column forms' twin, bit for bit ----

  /** Ordinary magnitudes, huge ones (their squares overflow), exact zero
    * and the IEEE specials.
    */
  private def value(scale: Double): Gen[Double] = Gen.frequency(
    16 -> Gen.choose(-scale, scale),
    2 -> Gen.choose(-1e200, 1e200),
    1 -> Gen.const(0.0),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity))

  private val kGen: Gen[Array[Double]] = for {
    fx <- value(5000.0); fy <- value(5000.0)
    cx <- value(3000.0); cy <- value(3000.0)
  } yield Array(fx, 0.0, cx, 0.0, fy, cy, 0.0, 0.0, 1.0)

  /** cv2 14-vector: all zero (no distortion) or 8 drawn terms. */
  private val distGen: Gen[Array[Double]] = Gen.frequency(
    1 -> Gen.const(Array.fill(14)(0.0)),
    3 -> Gen.listOfN(8, value(1.0)).map(d => (d ++ Seq.fill(6)(0.0)).toArray))

  private val pointGen = for {
    x <- value(1000.0); y <- value(1000.0); z <- value(1000.0)
  } yield (x, y, z)

  private def sameBits(a: (Double, Double), b: (Double, Double)) =
    doubleToLongBits(a._1) == doubleToLongBits(b._1) &&
      doubleToLongBits(a._2) == doubleToLongBits(b._2)

  /** rigidTransform + projectPointCvStaged evaluated by Spark over `pts`, with
    * whole-stage codegen or fully interpreted.
    */
  private def columnForm(t: Array[Double], k: Array[Double],
      dist: Array[Double], pts: Seq[(Double, Double, Double)],
      codegen: Boolean): Seq[(Double, Double)] = {
    val spark = TestSpark.spark
    import spark.implicits._
    TestSpark.withCodegen(codegen) {
      // an RDD source, so no optimizer rule folds the projection into a
      // local relation on the driver
      val df = spark.sparkContext.parallelize(pts.zipWithIndex.map {
        case ((x, y, z), i) => (i, x, y, z) }, 2).toDF("i", "x", "y", "z")
      val (xc, yc, zc) = Geometry.rigidTransform(t.toSeq, col("x"), col("y"), col("z"))
      val (staged, (u, v)) =
        Geometry.projectPointCvStaged(df, xc, yc, zc, k.toSeq, dist.toSeq)
      val q = staged.select(col("i"), u, v)
      val plan = q.queryExecution.executedPlan
      require(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) == codegen,
        plan.toString)
      q.collect().sortBy(_.getInt(0)).map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    }
  }

  property("projectCvScalar is rigidTransform + projectPointCvStaged bit for bit") = {
    val gen = for {
      t12 <- Gen.listOfN(12, value(2.0))
      k <- kGen; dist <- distGen
      pts <- Gen.listOfN(16, pointGen)
    } yield ((t12 ++ Seq(0.0, 0.0, 0.0, 1.0)).toArray, k, dist, pts)
    Prop.forAll(gen) { case (t, k, dist, pts0) =>
      // the kernel's domain: camera-frame z and the radial denominator
      // away from 0, where the Column form raises (ANSI) or returns null
      val pts = pts0.filter { case (x, y, z) =>
        val xc = t(0) * x + t(1) * y + t(2) * z + t(3)
        val yc = t(4) * x + t(5) * y + t(6) * z + t(7)
        val zc = t(8) * x + t(9) * y + t(10) * z + t(11)
        val r2 = (xc / zc) * (xc / zc) + (yc / zc) * (yc / zc)
        !(math.abs(zc) <= 1e-9) && // NaN passes
          1.0 + dist(5) * r2 + dist(6) * r2 * r2 + dist(7) * r2 * r2 * r2 != 0.0
      }
      val want = pts.map { case (x, y, z) =>
        Geometry.projectCvScalar(t, k, dist, x, y, z) }
      Seq(true, false).forall { codegen =>
        columnForm(t, k, dist, pts, codegen).zip(want).forall {
          case (a, b) => sameBits(a, b) }
      }
    }
  }

  property("projectCvScalar at z = 0 is the board-plane bundle formula") = {
    val gen = for {
      rv <- Gen.listOfN(3, Gen.choose(-3.0, 3.0))
      // a translation of exactly 0 would let the kernel's extra
      // `t(2) * 0.0` term flip the sign of a zero camera coordinate
      tv <- Gen.listOfN(3, Gen.oneOf(Gen.choose(-500.0, -1e-3),
        Gen.choose(1e-3, 3000.0)))
      k <- kGen; dist <- distGen
      xy <- Gen.listOfN(16, Gen.zip(value(1000.0), value(1000.0)))
    } yield (rv, tv, k, dist, xy)
    Prop.forAll(gen) { case (rv, tv, k, dist, xy) =>
      val t = Extrinsic.paramsToT(rv ++ tv).toArray
      val r9 = Extrinsic.rodriguesScalar(rv)
      xy.forall { case (xw, yw) =>
        // the per-view projection the intrinsic bundle used before the
        // kernel: rotation and translation applied to (X, Y) directly
        val xc = r9(0) * xw + r9(1) * yw + tv(0)
        val yc = r9(3) * xw + r9(4) * yw + tv(1)
        val zc = r9(6) * xw + r9(7) * yw + tv(2)
        val xn = xc / zc; val yn = yc / zc
        val r2 = xn * xn + yn * yn
        val Array(k1, k2, p1, p2, k3, k4, k5, k6) = dist.take(8)
        val radial = (1 + k1 * r2 + k2 * r2 * r2 + k3 * r2 * r2 * r2) /
          (1 + k4 * r2 + k5 * r2 * r2 + k6 * r2 * r2 * r2)
        val xd = xn * radial + 2 * p1 * xn * yn + p2 * (r2 + 2 * xn * xn)
        val yd = yn * radial + p1 * (r2 + 2 * yn * yn) + 2 * p2 * xn * yn
        sameBits(Geometry.projectCvScalar(t, k, dist, xw, yw, 0.0),
          (k(0) * xd + k(2), k(4) * yd + k(5)))
      }
    }
  }
}
