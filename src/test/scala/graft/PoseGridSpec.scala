package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{DataPipeline, PoseGrid}

/** Golden tests for the world-coordinate and warp stages against the
  * reference's own outputs (data.pkl-derived fixtures), and bit-identity
  * against the Spark plans they replaced (PipelineRefs).
  */
class PoseGridSpec extends SparkSpec {

  private val fixtures = "src/test/resources/fixtures"

  test("serpentine grid is a permutation of the plain 5x5 grid") {
    val pts = PoseGrid.serpentineGrid(spark)
      .select("gx", "gy").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSet
    val plain = (for (i <- -2 to 2; j <- -2 to 2)
      yield (i * 50.0, j * 50.0)).toSet
    assert(pts == plain)
    assert(PoseGrid.serpentineGrid(spark).count() == 25)
  }

  test("pose grid has 3,125 unique pose indices in program order") {
    val p = PoseGrid.poses(spark)
    assert(p.count() == 3125)
    assert(p.select("pose_idx").distinct().count() == 3125)
    // pose 0 = euler(-20,-20,-20), first serpentine point (-100,-100)
    val first = p.filter(col("pose_idx") === 0).collect()(0)
    assert(first.getAs[Double]("a") == -20.0 &&
      first.getAs[Double]("gx") == -100.0 &&
      first.getAs[Double]("gy") == -100.0)
  }

  /** The world stage's rows from the kernel: (idx, corner_idx, wx, wy, wz). */
  private def kernelWorld: Seq[(Int, Int, Double, Double, Double)] =
    PoseGrid.worldCorners.zipWithIndex.flatMap { case (cs, idx) =>
      cs.indices.map(c => (idx, c, cs(c)(0), cs(c)(1), cs(c)(2)))
    }

  private def pix = spark.read.parquet(s"$fixtures/pixel_corners.parquet")

  /** The warp stage's rows: (pose_id, h). */
  private def kernelWarp(df: DataFrame): Seq[(String, Seq[Double])] =
    new DataPipeline.PixelCorners(df).warp()
      .map(r => (r.getString(0), r.getAs[Seq[Double]](1)))

  private def bits(xs: Iterable[Double]): Seq[Long] =
    xs.map(java.lang.Double.doubleToLongBits).toSeq

  test("golden: world corners match the reference's world_coords (3,108 poses)") {
    import spark.implicits._
    val ours = kernelWorld.toDF("idx", "corner_idx", "wx", "wy", "wz")
    val want = spark.read.parquet(s"$fixtures/world_corners.parquet")
      .select(expr("CAST(pose_id AS BIGINT)").as("idx"),
        col("corner_idx").cast("long").as("corner_idx"),
        col("x"), col("y"), col("z"))
    val joined = want.join(ours, Seq("idx", "corner_idx"))
    assert(joined.count() == 3108 * 4, "every fixture pose must match a computed pose")
    val maxDiff = joined.agg(max(greatest(
      abs(col("wx") - col("x")), abs(col("wy") - col("y")),
      abs(col("wz") - col("z"))))).collect()(0).getDouble(0)
    assert(maxDiff < 1e-9, s"max world-coord deviation $maxDiff mm")
  }

  test("golden: warp matrices match cv2.getPerspectiveTransform (3,108 poses)") {
    import spark.implicits._
    val ours = kernelWarp(pix).toDF("pose_id", "h")
    val want = spark.read.parquet(s"$fixtures/warp_matrices.parquet")
      .withColumnRenamed("h", "h_ref")
    val joined = want.join(ours, "pose_id")
    assert(joined.count() == 3108)
    val diffs = joined.select(
      expr("aggregate(zip_with(h, h_ref, (a, b) -> abs(a - b)), 0d, (m, x) -> greatest(m, x))")
        .as("d")).agg(max("d")).collect()(0).getDouble(0)
    assert(diffs < 1e-6, s"max homography entry deviation $diffs")
  }

  test("the world-corner kernel is bit-identical to the Spark plan (12,480 rows)") {
    val want = PipelineRefs.worldCorners(spark).collect()
      .map(r => (r.getInt(0), r.getInt(1),
        bits(Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4)))))
      .sortBy(r => (r._1, r._2)).toSeq
    val got = kernelWorld.map { case (i, c, x, y, z) => (i, c, bits(Seq(x, y, z))) }
    assert(want.length == 12480)
    assert(got == want)
  }

  test("the driver warp is bit-identical to the Spark plan (3,108 poses)") {
    val want = PipelineRefs.warpMatrices(pix).collect()
      .map(r => (r.getString(0), bits(r.getAs[Seq[Double]](1)))).sortBy(_._1).toSeq
    assert(want.length == 3108)
    assert(kernelWarp(pix).map { case (id, h) => (id, bits(h)) }.sortBy(_._1) == want)
  }

  test("a null pixel coordinate fails the warp, naming the pose") {
    // the Spark plan read the null as 0.0 and solved a wrong homography
    val first = pix.orderBy("pose_id", "corner_idx").limit(1).collect()(0)
    val id = first.getAs[String]("pose_id")
    val ci = first.getAs[Long]("corner_idx")
    Seq("u", "v").foreach { c =>
      val withNull = pix.withColumn(c,
        when(col("pose_id") === id && col("corner_idx") === ci, lit(null))
          .otherwise(col(c)))
      val e = intercept[IllegalArgumentException](
        new DataPipeline.PixelCorners(withNull).warp())
      assert(e.getMessage.contains(s"pose $id") && e.getMessage.contains("null"),
        e.getMessage)
    }
  }
}
