package graft.pipeline

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Geometry, Memo, Sinks}

/** The reference's orchestrated calibration DAG (data_pipeline.py:10-56)
  * as memoized stages — each guard (`if pixel_coords is None`) becomes a
  * [[Memo.onDisk]] table at `$stateDir/<name>.parquet`, reused only while
  * its key (the stage's inputs and parameters, and the schema the stage
  * writes) is unchanged. Parquet's `_SUCCESS` commit gives the
  * save-on-interrupt durability (data_pipeline.py:62-72): a killed stage
  * reruns next time.
  *
  *   camera_matrix   <- Zhang intrinsics (Intrinsic.calibrate), the first
  *                      stage when chessboard views are given (S6)
  *   warp_matrices   <- per-pose homography (act_img.py:254-324)
  *   world_corners   <- pose grid + rigid transform (point3d_transformation)
  *   matched_corners <- positional join of detections onto the compacted
  *                      pose sequence (J4)
  *   extrinsic       <- PnP init + LM refine + reprojection stats on
  *                      the matched corners, persisted as a matrix table
  *                      (S6)
  *
  * The tables are small (at most 3,120 poses x 4 corners once matched),
  * so every stage is built on the driver and written once: warp and
  * match from ONE collect of the pixel corners ([[PixelCorners]]), the
  * world corners from the constant [[PoseGrid.worldCorners]], and the
  * extrinsic solve from the points the match just built (one collect of
  * `matched_corners` when only the extrinsic is rebuilt). A stage is read
  * back under the schema in its key, so no read runs a Spark job: a cold run
  * with chessboard views runs 7 jobs (the intrinsic collect, the pixel
  * collect, 5 writes), a resume 1 (the camera matrix).
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
    var built: Option[Intrinsic.Result] = None
    val camSchema = Sinks.matrixSchema(Seq("k", "dist", "mean_error"))
    val cam = stage(spark, stateDir, "camera_matrix", Memo.of(calibCorners),
        camSchema) {
      val res = Intrinsic.calibrate(calibCorners)
      built = Some(res)
      Seq(Sinks.matrixRow(camSchema, Map("k" -> res.k, "dist" -> res.dist,
        "mean_error" -> Seq(res.meanReprojError))))
    }
    val (k, dist) = built.map(r => (r.k, r.dist)).getOrElse {
      val row = cam.collect()(0)
      def arr(n: String) = row.getAs[scala.collection.Seq[Double]](n).toSeq
      (arr("k"), arr("dist"))
    }
    run(spark, pixelCorners, stateDir, k, dist, maxIter) +
      ("camera_matrix" -> cam)
  }

  /** Run (or resume) the DAG. `pixelCorners` is the long-form detected
    * corner table (pose_id, ord, corner_idx, u, v), corner_idx an integer
    * column; k/dist are the intrinsics. Returns the materialized stage
    * tables by name.
    */
  def run(spark: SparkSession, pixelCorners: DataFrame, stateDir: String,
      k: Seq[Double], dist: Seq[Double], maxIter: Int = 50)
      : Map[String, DataFrame] = {
    val pixKey = Memo.of(pixelCorners)
    lazy val pix = new PixelCorners(pixelCorners)
    val pixField = pixelCorners.schema.apply(_: String)

    // h is nullable, as `solve_homography` is: the schema of the plan the
    // stage replaced, though the driver warp never writes a null
    val warp = stage(spark, stateDir, "warp_matrices", pixKey,
      StructType(Seq(pixField("pose_id"),
        StructField("h", ArrayType(DoubleType, containsNull = false)))))(
      pix.warp())

    // no input: the pose grid is fixed, so its key is a constant
    val world = stage(spark, stateDir, "world_corners", "constant",
      StructType(Seq(StructField("idx", IntegerType, nullable = false),
        StructField("corner_idx", IntegerType, nullable = false)) ++ xyz("w"))) {
      PoseGrid.worldCorners.zipWithIndex.flatMap { case (cs, idx) =>
        cs.indices.map(c => Row(idx, c, cs(c)(0), cs(c)(1), cs(c)(2)))
      }
    }

    var pts: Option[Array[Extrinsic.Point]] = None
    val matched = stage(spark, stateDir, "matched_corners", pixKey,
      StructType(Seq("pose_id", "ord", "corner_idx", "u", "v").map(pixField) ++
        xyz(""))) {
      val (rows, p) = pix.matched
      pts = Some(p)
      rows
    }

    val extKey = Memo.key(pixKey, k.mkString(","), dist.mkString(","), maxIter)
    val extSchema = Sinks.matrixSchema(Seq("extrinsic", "rvec", "tvec", "stats"))
    val extrinsic = stage(spark, stateDir, "extrinsic", extKey, extSchema) {
      val ps = pts.getOrElse(Extrinsic.points(matched))
      val init = Extrinsic.initPnp(ps, k)
      val (p, _) = Extrinsic.refine(ps, k, dist, init, maxIter)
      val t = Extrinsic.paramsToT(p)
      val stats = Extrinsic.reprojectionStats(ps, k, dist, t)
      Seq(Sinks.matrixRow(extSchema, Map(
        "extrinsic" -> t,
        "rvec" -> p.take(3), "tvec" -> p.drop(3),
        "stats" -> Seq(stats("mean_error"), stats("std_error"),
          stats("max_error"), stats("min_error"), stats("median_error"),
          stats("rmse")))))
    }

    Map("warp_matrices" -> warp, "world_corners" -> world,
      "matched_corners" -> matched, "extrinsic" -> extrinsic)
  }

  /** Nullable double columns `<prefix>x`, `<prefix>y`, `<prefix>z`. */
  private def xyz(prefix: String): Seq[StructField] =
    Seq("x", "y", "z").map(c => StructField(prefix + c, DoubleType))

  /** Build stage `name` from `rows` unless it is stored under `key` and
    * `schema`; return its stored table, read under that schema, either
    * way. The schema is part of the stored key, so a stage written with
    * another schema is rebuilt.
    */
  private def stage(spark: SparkSession, stateDir: String, name: String,
      key: String, schema: StructType)(rows: => Seq[Row]): DataFrame = {
    val dir = new File(s"$stateDir/$name.parquet")
    Memo.onDisk(dir, Memo.key(key, schema.json)) {
      spark.createDataFrame(rows.asJava, schema)
        .write.mode("overwrite").parquet(dir.getPath)
    }
    spark.read.schema(schema).parquet(dir.getPath)
  }

  /** The pixel corners on the driver: the one Spark job of the warp and
    * match stages. Spark evaluates the J4 key `try_cast(pose_id AS
    * BIGINT)` and the casts the homography and the extrinsic points
    * read; the stage tables keep the raw columns.
    */
  private[graft] final class PixelCorners(pixelCorners: DataFrame) {
    private val rows = pixelCorners.select(col("pose_id"), col("ord"),
        col("corner_idx"), col("u"), col("v"),
        expr("try_cast(pose_id AS BIGINT)"), col("pose_id").cast("string"),
        col("ord").cast("long"), col("corner_idx").cast("long"),
        col("u").cast("double"), col("v").cast("double"))
      .collect()
    // 0-4 raw pose_id, ord, corner_idx, u, v; 5 the J4 key; 6-10 the casts
    private val (key, id, ci, u, v) = (5, 6, 8, 9, 10)

    /** warp_matrices rows (pose_id, h): per pose the homography mapping
      * its TL,TR,BR,BL pixel quad (corners in corner_idx order) onto the
      * 799-square of the 800x800 output (act_img.py:202 via
      * image_cut_warp.py:19-29, cv2.getPerspectiveTransform semantics). A
      * pose without exactly 4 corners, or with a null pixel coordinate,
      * fails naming the pose.
      */
    def warp(): Seq[Row] = {
      val s = 799.0
      val dst = Seq((0.0, 0.0), (s, 0.0), (s, s), (0.0, s))
      rows.groupBy(_.get(0)).toSeq.map { case (pose, rs) =>
        val src = rs.sortBy(r => Option(r.get(ci)).map(_.asInstanceOf[Long]))
          .map { r =>
            if (r.isNullAt(u) || r.isNullAt(v)) throw new IllegalArgumentException(
              s"warp: pose $pose has a null pixel coordinate at corner ${r.get(2)}")
            (r.getDouble(u), r.getDouble(v))
          }
        require(src.length == 4, s"warp: pose $pose has ${src.length} corners, not 4")
        Row(pose, Geometry.solveHomography(src.toSeq, dst).toSeq)
      }
    }

    /** matched_corners rows (pose_id, ord, corner_idx, u, v, x, y, z) —
      * the inner equi-join on (J4 key, corner_idx) with the world corners,
      * so a null key matches nothing and a null u/v stays null — and the
      * extrinsic points of the same rows (Extrinsic.pointsOf).
      */
    def matched: (Seq[Row], Array[Extrinsic.Point]) = {
      val world = PoseGrid.worldCorners
      val hits = rows.flatMap { r =>
        if (r.isNullAt(key) || r.isNullAt(ci)) None
        else {
          val (i, c) = (r.getLong(key), r.getLong(ci))
          if (i < 0 || i >= world.length || c < 0 || c >= 4) None
          else Some((r, world(i.toInt)(c.toInt)))
        }
      }
      (hits.map { case (r, w) => Row(r(0), r(1), r(2), r(3), r(4), w(0), w(1), w(2)) }.toSeq,
        Extrinsic.pointsOf(hits.map { case (r, w) =>
          Row(r(id), r(7), r(ci), r(u), r(v), w(0), w(1), w(2))
        }))
    }
  }
}
