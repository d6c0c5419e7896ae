package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's pose grid and world-coordinate stage
  * (point3d_transformation.py:65-171):
  *
  *   euler^3 (a,b,c major order) x serpentine 5x5 grid
  *   -> 3,125 TOOL-in-BASE transforms (odd rotation index walks the grid
  *      backwards), drop the 5 missing captures, compacted positional
  *      index, then the 4 sample corners through T.
  *
  * `poses` and `serpentineGrid` are the grid as Spark plans (literals +
  * cross joins; the g1_pose_grid query). The world stage is a constant
  * table from the scalar kernel [[poseCorners]], built once on the driver:
  * 12,480 rows need no distributed plan.
  *
  * NOTE the euler convention: scipy's R.from_euler('zyx', ...) with a
  * LOWERCASE seq is EXTRINSIC — R = Rx(c) @ Ry(b) @ Rz(a) — not the
  * intrinsic KUKA ZYX (Rz Ry Rx). Verified against the reference's own
  * world_corners output: extrinsic matches to 1e-14, intrinsic is off by
  * centimeters.
  */
object PoseGrid {

  val EulerValues: Seq[Int] = Seq(-20, -10, 0, 10, 20)
  val MissingPoses: Seq[Long] = Seq(51L, 126L, 722L, 1414L, 2203L)
  /** TOOL-frame sample corners, TL,TR,BR,BL (point3d_transformation.py:139). */
  val CornerPts: Seq[(Double, Double, Double)] =
    Seq((90, 90, 0), (-90, 90, 0), (-90, -90, 0), (90, -90, 0))

  /** The 25-point serpentine grid in program order: k = row*5 + pos,
    * x = (row-2)*50, y = ((row odd ? 4-pos : pos) - 2)*50
    * (point3d_transformation.py:71-83: odd rows reversed).
    */
  def serpentineGrid(spark: SparkSession): DataFrame =
    spark.range(25).select(
      col("id").as("k"),
      ((expr("id div 5") - 2) * 50.0).as("gx"),
      ((when(expr("id div 5 % 2") === 1, lit(4) - expr("id % 5"))
        .otherwise(expr("id % 5")) - 2) * 50.0).as("gy"))

  /** All 3,125 poses: (pose_idx, a, b, c, gx, gy). Odd rotation indices
    * traverse the serpentine grid in reverse (reverse_grid,
    * point3d_transformation.py:83,98-101).
    */
  def poses(spark: SparkSession): DataFrame = {
    val e = spark.createDataFrame(
      EulerValues.zipWithIndex.map { case (v, i) => (i.toLong, v.toDouble) })
      .toDF("i", "v")
    val combos = e.select(col("i").as("ia"), col("v").as("a"))
      .crossJoin(e.select(col("i").as("ib"), col("v").as("b")))
      .crossJoin(e.select(col("i").as("ic"), col("v").as("c")))
      .select((col("ia") * 25 + col("ib") * 5 + col("ic")).as("ei"),
        col("a"), col("b"), col("c"))
    val grid = serpentineGrid(spark)
    combos
      .withColumn("k", explode(sequence(lit(0L), lit(24L))))
      .withColumn("k2",
        when(col("ei") % 2 === 0, col("k")).otherwise(lit(24L) - col("k")))
      .join(grid.withColumnRenamed("k", "k2"), "k2")
      .select((col("ei") * 25 + col("k")).as("pose_idx"),
        col("a"), col("b"), col("c"), col("gx"), col("gy"))
  }

  /** World (x, y, z) of the 4 sample corners at pose `poseIdx` (0-3124),
    * in corner order: the euler angles and serpentine grid point of the
    * pose in closed form, R = Rx(c) Ry(b) Rz(a) with the rows expanded,
    * then R p + (gx, gy, 0). Every product and sum runs in the order of
    * the Column forms it replaced, so the values are bit-identical to
    * them (PoseGridSpec).
    */
  def poseCorners(poseIdx: Int): Array[Array[Double]] = {
    val (ei, k) = (poseIdx / 25, poseIdx % 25)
    def deg(i: Int) = math.toRadians(EulerValues(i).toDouble)
    val (a, b, c) = (deg(ei / 25), deg(ei / 5 % 5), deg(ei % 5))
    val (ca, sa) = (math.cos(a), math.sin(a))
    val (cb, sb) = (math.cos(b), math.sin(b))
    val (cc, sc) = (math.cos(c), math.sin(c))
    val m = Array(
      Array(cb * ca, -cb * sa, sb),
      Array(sc * sb * ca + cc * sa, -sc * sb * sa + cc * ca, -sc * cb),
      Array(-cc * sb * ca + sc * sa, cc * sb * sa + sc * ca, cc * cb))
    // odd rotation index: the grid walked backwards
    val g = if (ei % 2 == 0) k else 24 - k
    val (row, pos) = (g / 5, g % 5)
    val t = Array((row - 2) * 50.0,
      ((if (row % 2 == 1) 4 - pos else pos) - 2) * 50.0, 0.0)
    CornerPts.map { case (px, py, pz) =>
      Array.tabulate(3)(i => m(i)(0) * px + m(i)(1) * py + m(i)(2) * pz + t(i))
    }.toArray
  }

  /** World corners of every usable pose, indexed by the COMPACTED index
    * the reference's dict keys address: the poses in pose_idx order less
    * the missing ones, so idx = pose_idx - #missing below it (SURVEY §7.4
    * J4 subtlety).
    */
  lazy val worldCorners: IndexedSeq[Array[Array[Double]]] =
    (0 until 3125).filterNot(p => MissingPoses.contains(p.toLong))
      .map(poseCorners)
}
