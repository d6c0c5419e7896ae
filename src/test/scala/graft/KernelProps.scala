package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.apache.spark.unsafe.types.UTF8String

import graft.expr.WinnowFp
import graft.ops.Geometry
import graft.pipeline.{Extrinsic, Intrinsic}

/** ScalaCheck properties for the pure-Scala kernels: the rolling
  * winnowing fingerprint and the small linear-algebra pieces behind the
  * calibration composites (Geometry.solveLinear, Intrinsic.poseFromH and
  * the Zhang DLT/eigen kernels).
  */
object WinnowProps extends Properties("winnow") {

  private val text = Gen.chooseNum(0, 60).flatMap(n =>
    Gen.listOfN(n, Gen.choose(32.toChar, 126.toChar)).map(_.mkString))
  private val kGen = Gen.choose(1, 8)
  private val wGen = Gen.choose(1, 6)

  /** Naive reference: recompute each k-gram hash from scratch, take
    * window minima, distinct + sort.
    */
  private def reference(s: String, k: Int, w: Int): Seq[Long] = {
    if (s.length < k) return Seq.empty
    val hs = (0 to s.length - k).map(i =>
      s.substring(i, i + k).foldLeft(0L)((acc, c) => acc * 31 + c))
    if (hs.length < w) return Seq.empty
    (0 to hs.length - w).map(t => hs.slice(t, t + w).min)
      .distinct.sorted
  }

  property("rolling compute equals the from-scratch reference") =
    Prop.forAll(text, kGen, wGen) { (s, k, w) =>
      val got = WinnowFp.compute(UTF8String.fromString(s), k, w)
        .toLongArray().toSeq
      got == reference(s, k, w)
    }

  property("fingerprints are invariant under duplication-adjacent inserts") =
    // winnowing's defining robustness: a fingerprint set of a string is a
    // subset of the fingerprints of any superstring containing it intact
    // (local hashes are unchanged inside the copied region)
    Prop.forAll(text.suchThat(_.length >= 16)) { s =>
      val whole = WinnowFp.compute(UTF8String.fromString(s + "###" + s), 8, 4)
        .toLongArray().toSet
      val part = WinnowFp.compute(UTF8String.fromString(s), 8, 4)
        .toLongArray().toSet
      part.subsetOf(whole)
    }
}

object IntrinsicProps extends Properties("intrinsic-linalg") {

  private val entry = Gen.choose(-10.0, 10.0)

  private def symmetric(n: Int): Gen[Array[Array[Double]]] =
    Gen.listOfN(n * n, entry).map { vs =>
      val m = vs.grouped(n).map(_.toArray).toArray
      Array.tabulate(n, n)((i, j) => (m(i)(j) + m(j)(i)) / 2)
    }

  property("smallestEigvec returns a unit vector minimizing the Rayleigh quotient") =
    Prop.forAll(symmetric(6)) { a =>
      val v = Intrinsic.smallestEigvec(a)
      val norm = math.sqrt(v.map(x => x * x).sum)
      def quad(x: Array[Double]): Double = {
        val ax = a.map(row => row.zip(x).map(p => p._1 * p._2).sum)
        ax.zip(x).map(p => p._1 * p._2).sum / x.map(y => y * y).sum
      }
      val rq = quad(v)
      // no coordinate direction does better (necessary condition that
      // catches sign/indexing bugs without a full eigen reference)
      val best = (0 until 6).map { i =>
        val e = Array.fill(6)(0.0); e(i) = 1.0; quad(e)
      }.min
      math.abs(norm - 1.0) < 1e-9 && rq <= best + 1e-9
    }

  /** Diagonally dominant n x n system with a known solution: n is the
    * extrinsic LM step (6), the 4-point homography (8) or a 1-view
    * intrinsic bundle step (15).
    */
  private val system = for {
    n <- Gen.oneOf(6, 8, 15)
    diag <- Gen.listOfN(n, Gen.choose(5.0 * n, 20.0 * n))
    off <- Gen.listOfN(n * n, Gen.choose(-1.0, 1.0))
    x <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
  } yield {
    val a = Array.tabulate(n, n)((i, j) =>
      (if (i == j) diag(i) else 0.0) + (off(i * n + j) + off(j * n + i)) / 2)
    (a, x.toArray)
  }

  property("solveLinear solves random well-conditioned systems") =
    Prop.forAll(system) { case (a, x) =>
      val b = a.map(row => row.zip(x).map(p => p._1 * p._2).sum)
      val got = Geometry.solveLinear(a, b)
      got.zip(x).forall { case (g, want) => math.abs(g - want) < 1e-6 }
    }

  property("solveLinear rejects singular systems") = {
    def rejects(a: Array[Array[Double]]) =
      try { Geometry.solveLinear(a, Array.fill(a.length)(1.0)); false }
      catch { case _: IllegalArgumentException => true }
    // a repeated row eliminates to an exactly zero pivot
    val repeated = Prop.forAll(system, Gen.choose(0, 1000), Gen.choose(1, 1000)) {
      case ((a, _), i0, d) =>
        val n = a.length
        val (i, j) = (i0 % n, (i0 + d % (n - 1) + 1) % n)
        rejects(Array.tabulate(n)(r => a(if (r == j) i else r).clone()))
    }
    // the pivot threshold is |pivot| <= 1e-12
    val threshold = Prop(
      rejects(Array(Array(1.0, 0.0), Array(0.0, 1e-12))) &&
        !rejects(Array(Array(1.0, 0.0), Array(0.0, 2e-12))))
    repeated && threshold
  }

  property("poseFromH returns a proper rotation with the plane in front") = {
    val gen = for {
      rv <- Gen.listOfN(3, Gen.choose(-1.2, 1.2))
      tx <- Gen.choose(-500.0, 500.0); ty <- Gen.choose(-500.0, 500.0)
      tz <- Gen.choose(200.0, 5000.0)
      fx <- Gen.choose(300.0, 6000.0); fy <- Gen.choose(300.0, 6000.0)
      cx <- Gen.choose(0.0, 3000.0); cy <- Gen.choose(0.0, 2000.0)
      // H is only known up to scale, sign included
      s <- Gen.oneOf(Gen.choose(-3.0, -0.01), Gen.choose(0.01, 3.0))
    } yield (rv, Array(tx, ty, tz), (fx, fy, cx, cy), s)
    Prop.forAll(gen) { case (rv, t, (fx, fy, cx, cy), s) =>
      val r = Extrinsic.rodriguesScalar(rv)
      // H = s K [r1 r2 t], row-major
      def kCol(x: Double, y: Double, z: Double) =
        Array(s * (fx * x + cx * z), s * (fy * y + cy * z), s * z)
      val cols = Seq(kCol(r(0), r(3), r(6)), kCol(r(1), r(4), r(7)),
        kCol(t(0), t(1), t(2)))
      val h = Array.tabulate(9)(k => cols(k % 3)(k / 3))
      val (got, gotT) = Intrinsic.poseFromH(h, fx, fy, cx, cy)
      val rtr = Array.tabulate(3, 3)((i, j) =>
        (0 until 3).map(k => got(3 * k + i) * got(3 * k + j)).sum)
      val orthonormal = (0 until 3).forall(i => (0 until 3).forall(j =>
        math.abs(rtr(i)(j) - (if (i == j) 1.0 else 0.0)) < 1e-12))
      val det =
        got(0) * (got(4) * got(8) - got(5) * got(7)) -
          got(1) * (got(3) * got(8) - got(5) * got(6)) +
          got(2) * (got(3) * got(7) - got(4) * got(6))
      val tNorm = math.sqrt(t.map(x => x * x).sum)
      // exact H: the true pose comes back too
      orthonormal && math.abs(det - 1.0) < 1e-12 && gotT(2) > 0 &&
        got.zip(r).forall { case (a, b) => math.abs(a - b) < 1e-9 } &&
        gotT.zip(t).forall { case (a, b) => math.abs(a - b) < 1e-9 * tNorm }
    }
  }

  property("homographyDLT recovers an exact homography from 20+ points") = {
    val hGen = for {
      a <- Gen.choose(0.8, 1.2); b <- Gen.choose(-0.1, 0.1)
      c <- Gen.choose(-50.0, 50.0); d <- Gen.choose(-0.1, 0.1)
      e <- Gen.choose(0.8, 1.2); f <- Gen.choose(-50.0, 50.0)
      g <- Gen.choose(-1e-4, 1e-4); h <- Gen.choose(-1e-4, 1e-4)
    } yield Array(a, b, c, d, e, f, g, h, 1.0)
    Prop.forAll(hGen) { hTrue =>
      val pts = for (x <- 0 until 5; y <- 0 until 4) yield {
        val (xw, yw) = (x * 50.0, y * 50.0)
        val w = hTrue(6) * xw + hTrue(7) * yw + 1.0
        (xw, yw,
          (hTrue(0) * xw + hTrue(1) * yw + hTrue(2)) / w,
          (hTrue(3) * xw + hTrue(4) * yw + hTrue(5)) / w)
      }
      val got = Intrinsic.homographyDLT(pts)
      hTrue.indices.forall(i => math.abs(got(i) - hTrue(i)) < 1e-6)
    }
  }
}

/** SimHash64.compute vs an independent reference that goes through the
  * md5 HEX STRING (parseUnsignedLong) instead of digest-byte shifting —
  * the two paths only agree if the bit order/endianness is right.
  */
object SimHashProps extends Properties("simhash64") {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private val token = Gen.chooseNum(1, 10).flatMap(n =>
    Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
  private val toks = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, token))

  private def reference(ts: Seq[String]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Int](64)
    ts.foreach { t =>
      md.reset()
      val hex = md.digest(t.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString.take(16)
      val h = java.lang.Long.parseUnsignedLong(hex, 16)
      (0 until 64).foreach(j =>
        counts(j) += (((h >>> (63 - j)) & 1L).toInt << 1) - 1)
    }
    (0 until 64).foldLeft(0L)((acc, j) =>
      if (counts(j) > 0) acc | (1L << (63 - j)) else acc)
  }

  property("compute matches the hex-path majority reference") =
    Prop.forAll(toks) { ts =>
      val arr = new GenericArrayData(
        ts.map(t => UTF8String.fromString(t): Any).toArray)
      graft.expr.SimHash64.compute(arr) == reference(ts)
    }
}

/** The `nearest_cells` kernel (expr/NearestCells) against the HOF ranking
  * it replaces, interpreted and codegen'd: every rank count, float and
  * double vectors, int/bigint/string labels, exact ties, NaN coordinates,
  * large magnitudes (where the left-to-right accumulation order shows in
  * d2) and the empty table.
  */
object NearestCellsProps extends Properties("nearest_cells") {
  import org.apache.spark.sql.{Column, Row}
  import org.scalacheck.Prop.propBoolean
  import org.apache.spark.sql.execution.WholeStageCodegenExec
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._
  import graft.ops.Similarity

  override def overrideParameters(p: org.scalacheck.Test.Parameters) =
    p.withMinSuccessfulTests(25)

  private val coord: Gen[Double] = Gen.frequency(
    8 -> Gen.choose(-2, 2).map(_.toDouble),
    2 -> Gen.choose(-1.0, 1.0),
    1 -> Gen.oneOf(1e8, -1e8),
    1 -> Gen.const(Double.NaN))

  /** String labels whose order is not their index order. */
  private val names = Vector("b", "a", "B", "ab", "", "z", "é", "aa")

  private case class Case(dim: Int, floatVec: Boolean, labelKind: Int,
      labels: Seq[Int], cents: Seq[Seq[Double]], vecs: Seq[Seq[Double]])

  private val caseGen: Gen[Case] = for {
    dim <- Gen.choose(1, 5)
    floatVec <- Gen.oneOf(true, false)
    labelKind <- Gen.choose(0, 2)
    k <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 9))
    // few distinct positions, so several labels tie on d2
    pool <- Gen.listOfN(3, Gen.listOfN(dim, coord))
    cents <- Gen.listOfN(k, Gen.oneOf(Gen.oneOf(pool), Gen.listOfN(dim, coord)))
    labels <- Gen.listOfN(k, Gen.choose(-3, names.length - 1))
    vecs <- Gen.listOfN(12, Gen.oneOf(Gen.oneOf(pool), Gen.listOfN(dim, coord)))
  } yield Case(dim, floatVec, labelKind, labels, cents, vecs)

  private def centsLit(c: Case): Column = {
    val cs = c.cents.map(_.toSeq)
    c.labelKind match {
      case 0 => typedLit(c.labels.zip(cs).toArray)
      case 1 => typedLit(c.labels.map(_.toLong).zip(cs).toArray)
      case _ => typedLit(c.labels.map(l => names(math.floorMod(l, names.length)))
        .zip(cs).toArray)
    }
  }

  private def reference(v: Column, cents: Column, n: Int): Column =
    slice(array_sort(transform(cents, c => struct(
      round(Similarity.l2sq(v, c.getField("_2")), 6), c.getField("_1")))), 1, n)

  property("matches the HOF array_sort ranking") =
    Prop.forAll(caseGen) { c =>
      val spark = TestSpark.spark
      graft.expr.GraftFunctions.register(spark)
      val k = c.cents.length
      val ns = Seq(1, 2, 8, k, k + 3)
      val elem = if (c.floatVec) FloatType else DoubleType
      val rows = c.vecs.zipWithIndex.map { case (v, i) =>
        Row(i, if (c.floatVec) v.map(_.toFloat) else v) }
      // an RDD source, so no optimizer rule folds the projection into a
      // local relation on the driver
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        StructType(Seq(StructField("i", IntegerType),
          StructField("v", ArrayType(elem)))))
      val cl = centsLit(c)
      val cols = ns.flatMap(n => Seq(
        call_function("nearest_cells", col("v"), cl, lit(n)),
        reference(col("v"), cl, n)))
      val bad = Seq(true, false).flatMap { codegen =>
        TestSpark.withCodegen(codegen) {
          val q = df.select(col("i") +: cols: _*)
          require(q.queryExecution.executedPlan
            .exists(_.isInstanceOf[WholeStageCodegenExec]) == codegen)
          q.collect().toSeq.flatMap { r =>
            ns.indices.collect {
              case j if r.getSeq[Row](1 + 2 * j) != r.getSeq[Row](2 + 2 * j) =>
                s"codegen=$codegen n=${ns(j)} row ${r.getInt(0)}: " +
                  s"${r.get(1 + 2 * j)} vs ${r.get(2 + 2 * j)}"
            }
          }
        }
      }
      bad.isEmpty :| bad.take(3).mkString("\n")
    }
}
