package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Geometry, Joins}
import graft.pipeline.PoseGrid

/** The calibration DAG's world, warp and match stages as Spark plans: the
  * forms DataPipeline ran before it built those stages on the driver,
  * kept as the references its tables must equal bit for bit.
  */
object PipelineRefs {

  /** scipy from_euler('zyx', [a,b,c], degrees=True) twin:
    * R = Rx(c) @ Ry(b) @ Rz(a) (extrinsic z, then y, then x).
    */
  def eulerZyxExtrinsic(aDeg: Column, bDeg: Column, cDeg: Column)
      : Geometry.Mat3 = {
    val (ca, sa) = (cos(radians(aDeg)), sin(radians(aDeg)))
    val (cb, sb) = (cos(radians(bDeg)), sin(radians(bDeg)))
    val (cc, sc) = (cos(radians(cDeg)), sin(radians(cDeg)))
    // Rx(c) Ry(b) Rz(a), rows expanded
    Seq(
      Seq(cb * ca, -cb * sa, sb),
      Seq(sc * sb * ca + cc * sa, -sc * sb * sa + cc * ca, -sc * cb),
      Seq(-cc * sb * ca + sc * sa, cc * sb * sa + sc * ca, cc * cb))
  }

  /** (idx, corner_idx, wx, wy, wz): PoseGrid.poses less the missing
    * poses, the compacted index by row_number, the 4 sample corners
    * exploded and put through T.
    */
  def worldCorners(spark: SparkSession): DataFrame = {
    val usable = Joins.withCompactedIndex(
      Joins.dropKeys(PoseGrid.poses(spark), "pose_idx", PoseGrid.MissingPoses),
      "pose_idx")
      .withColumnRenamed("c", "ec") // avoid collision with the corner struct
    val corners = PoseGrid.CornerPts.zipWithIndex.map { case ((x, y, z), i) =>
      struct(lit(i).as("ci"), lit(x).as("px"), lit(y).as("py"),
        lit(z).as("pz"))
    }
    val exploded = usable
      .withColumn("corner", explode(array(corners: _*)))
      .select(col("idx"), col("corner.ci").as("corner_idx"),
        col("a"), col("b"), col("ec"), col("gx"), col("gy"),
        col("corner.px").as("px"), col("corner.py").as("py"),
        col("corner.pz").as("pz"))
    val m = eulerZyxExtrinsic(col("a"), col("b"), col("ec"))
    def rowDot(i: Int): Column =
      m(i)(0) * col("px") + m(i)(1) * col("py") + m(i)(2) * col("pz")
    exploded.select(col("idx"), col("corner_idx"),
      (rowDot(0) + col("gx")).as("wx"),
      (rowDot(1) + col("gy")).as("wy"),
      (rowDot(2) + lit(0.0)).as("wz"))
  }

  /** (pose_id, h): per pose, collect_list + array_sort by corner_idx, then
    * the solve_homography expression onto the (outSize-1)-square.
    */
  def warpMatrices(pixelCorners: DataFrame, outSize: Int = 800): DataFrame = {
    val s = outSize - 1.0
    val dst = array(
      array(lit(0.0), lit(0.0)), array(lit(s), lit(0.0)),
      array(lit(s), lit(s)), array(lit(0.0), lit(s)))
    graft.expr.GraftFunctions.register(pixelCorners.sparkSession)
    pixelCorners
      .groupBy("pose_id")
      .agg(transform(
        array_sort(collect_list(struct(col("corner_idx"),
          array(col("u").cast("double"), col("v").cast("double")).as("p")))),
        e => e.getField("p")).as("src"))
      .select(col("pose_id"),
        call_function("solve_homography", col("src"), dst).as("h"))
  }

  /** (pose_id, ord, corner_idx, u, v, x, y, z): the J4 key
    * try_cast(pose_id AS BIGINT) inner-joined with `world` on
    * (idx, corner_idx).
    */
  def matchedCorners(pixelCorners: DataFrame, world: DataFrame): DataFrame =
    pixelCorners
      .withColumn("idx", expr("try_cast(pose_id AS BIGINT)"))
      .filter(col("idx").isNotNull)
      .join(world, Seq("idx", "corner_idx"))
      .select(col("pose_id"), col("ord"), col("corner_idx"),
        col("u"), col("v"),
        col("wx").as("x"), col("wy").as("y"), col("wz").as("z"))
}
