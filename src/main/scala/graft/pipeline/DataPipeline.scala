package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Memo, Sinks}

/** The reference's orchestrated calibration DAG (data_pipeline.py:10-56)
  * as memoized stages — each guard (`if pixel_coords is None`) becomes a
  * [[Memo.onDisk]] table at `$stateDir/<name>.parquet`, reused only while
  * its key (the stage's inputs and parameters) is unchanged. Parquet's
  * `_SUCCESS` commit gives the save-on-interrupt durability
  * (data_pipeline.py:62-72): a killed stage reruns next time.
  *
  *   camera_matrix   <- Zhang intrinsics (Intrinsic.calibrate), the first
  *                      stage when chessboard views are given (S6)
  *   warp_matrices   <- per-pose homography (act_img.py:254-324)
  *   world_corners   <- pose grid + rigid transform (point3d_transformation)
  *   matched_corners <- positional join of detections onto the compacted
  *                      pose sequence (J4)
  *   extrinsic       <- PnP init + LM refine + reprojection stats on
  *                      one collect of matched_corners, persisted as a
  *                      matrix table (S6)
  */
object DataPipeline {

  /** Full DAG including the reference's FIRST stage (data_pipeline.py:19-24
    * `if data.camera_matrix is None: cam_calib(...)`): intrinsics are
    * COMPUTED from the chessboard corner table via the Zhang composite
    * (Intrinsic.calibrate), memoized as the `camera_matrix` stage, then fed
    * to the downstream extrinsic DAG — k/dist are outputs, not inputs.
    * `calibCorners`: long-form (view_id, corner_idx, u, v, x, y) at detect
    * scale (camera_calib.py:61-63's 0.5x resize).
    */
  def run(spark: SparkSession, pixelCorners: DataFrame,
      calibCorners: DataFrame, stateDir: String, maxIter: Int)
      : Map[String, DataFrame] = {
    val cam = stage(spark, stateDir, "camera_matrix", Memo.of(calibCorners)) {
      val res = Intrinsic.calibrate(calibCorners)
      Sinks.matrixTable(spark, Map(
        "k" -> res.k, "dist" -> res.dist,
        "mean_error" -> Seq(res.meanReprojError)))
    }
    val row = cam.collect()(0)
    def arr(n: String) = row.getAs[scala.collection.Seq[Double]](n).toSeq
    run(spark, pixelCorners, stateDir, arr("k"), arr("dist"), maxIter) +
      ("camera_matrix" -> cam)
  }

  /** Run (or resume) the DAG. `pixelCorners` is the long-form detected
    * corner table (pose_id, corner_idx, u, v); k/dist are the intrinsics.
    * Returns the materialized stage tables by name.
    */
  def run(spark: SparkSession, pixelCorners: DataFrame, stateDir: String,
      k: Seq[Double], dist: Seq[Double], maxIter: Int = 50)
      : Map[String, DataFrame] = {
    val pixKey = Memo.of(pixelCorners)

    val warp = stage(spark, stateDir, "warp_matrices", pixKey) {
      PoseGrid.warpMatrices(pixelCorners)
    }

    // no input: the pose grid is fixed, so its key is a constant
    val world = stage(spark, stateDir, "world_corners", "constant") {
      PoseGrid.worldCorners(spark)
    }

    val matched = stage(spark, stateDir, "matched_corners", pixKey) {
      // J4: dict key addresses the compacted pose sequence
      pixelCorners
        .withColumn("idx", expr("try_cast(pose_id AS BIGINT)"))
        .filter(col("idx").isNotNull)
        .join(world, Seq("idx", "corner_idx"))
        .select(col("pose_id"), col("ord"), col("corner_idx"),
          col("u"), col("v"),
          col("wx").as("x"), col("wy").as("y"), col("wz").as("z"))
    }

    val extKey = Memo.key(pixKey, k.mkString(","), dist.mkString(","), maxIter)
    val extrinsic = stage(spark, stateDir, "extrinsic", extKey) {
      val pts = Extrinsic.points(matched)
      val init = Extrinsic.initPnp(pts, k)
      val (p, _) = Extrinsic.refine(pts, k, dist, init, maxIter)
      val t = Extrinsic.paramsToT(p)
      val stats = Extrinsic.reprojectionStats(pts, k, dist, t)
      Sinks.matrixTable(spark, Map(
        "extrinsic" -> t,
        "rvec" -> p.take(3), "tvec" -> p.drop(3),
        "stats" -> Seq(stats("mean_error"), stats("std_error"),
          stats("max_error"), stats("min_error"), stats("median_error"),
          stats("rmse"))))
    }

    Map("warp_matrices" -> warp, "world_corners" -> world,
      "matched_corners" -> matched, "extrinsic" -> extrinsic)
  }

  /** Build stage `name` unless it is stored under `key`; return its
    * stored table either way.
    */
  private def stage(spark: SparkSession, stateDir: String, name: String,
      key: String)(build: => DataFrame): DataFrame = {
    val dir = s"$stateDir/$name.parquet"
    Memo.onDisk(new java.io.File(dir), key)(
      build.write.mode("overwrite").parquet(dir))
    spark.read.parquet(dir)
  }
}
