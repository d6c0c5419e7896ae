package graft

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}

import graft.ops.{Memo, Multimodal}
import graft.pipeline.{DataPipeline, Extrinsic}

/** End-to-end calibration DAG over the reference fixtures with stage
  * memoization (data_pipeline.py:10-56 guard chain).
  */
class DataPipelineSpec extends SparkSpec {

  test("full DAG materializes all stages and resumes without recompute") {
    val stateDir = Files.createTempDirectory("graft-dag").toString
    val cam = spark.read
      .parquet("src/test/resources/fixtures/camera.parquet").collect()(0)
    def arr(n: String) =
      cam.getAs[scala.collection.Seq[Double]](n).toSeq
    val pix = spark.read
      .parquet("src/test/resources/fixtures/pixel_corners.parquet")

    val t0 = System.nanoTime()
    val (out, coldFrames) = withJobFrames {
      DataPipeline.run(spark, pix, stateDir, arr("k"), arr("dist"), maxIter = 12)
    }
    val coldSecs = (System.nanoTime() - t0) / 1e9
    // one collect of the pixel corners, then one write per stage; the
    // extrinsic solve takes the points the match built, so no job is
    // called from Extrinsic
    assert(coldFrames.length == 5, s"cold jobs:\n${show(coldFrames)}")
    assert(!coldFrames.exists(_.exists(_.startsWith("graft.pipeline.Extrinsic"))),
      s"cold jobs:\n${show(coldFrames)}")

    assert(out("warp_matrices").count() == 3108)
    assert(out("matched_corners").count() == 3108 * 4)
    val ext = out("extrinsic").collect()(0)
    def got(n: String) = ext.getAs[scala.collection.Seq[Double]](n)
    val stats = got("stats")
    // the fixture run at maxIter = 12, pinned
    def near(name: String, a: Double, want: Double) =
      assert(math.abs(a - want) <= 1e-12 * math.abs(want), s"$name $a vs $want")
    near("mean_error", stats(0), 43.150478269490364)
    near("rmse", stats(5), 47.085441143774645)
    Seq(-0.005238381249385975, -0.0030909924218540303, -3.15019277642639)
      .zip(got("rvec")).zipWithIndex.foreach { case ((w, a), i) => near(s"rvec$i", a, w) }
    Seq(46.886244326966434, 20.267215014227915, 1590.0193152361821)
      .zip(got("tvec")).zipWithIndex.foreach { case ((w, a), i) => near(s"tvec$i", a, w) }

    // resume: everything is materialized; must be much faster, identical,
    // and run nothing of the calibration itself
    var warmSecs = 0.0
    val (again, frames) = withJobFrames {
      val t1 = System.nanoTime()
      val r = DataPipeline.run(spark, pix, stateDir, arr("k"), arr("dist"),
        maxIter = 12)
      warmSecs = (System.nanoTime() - t1) / 1e9
      r
    }
    assert(again("extrinsic").collect()(0)
      .getAs[scala.collection.Seq[Double]]("stats") == stats)
    assert(warmSecs < coldSecs / 3,
      s"resume ($warmSecs s) should skip the optimizer (cold $coldSecs s)")
    // every stage is read back under its stored schema: no job at all
    assert(frames.isEmpty, s"resume jobs:\n${show(frames)}")
  }

  private def show(frames: Seq[Seq[String]]): String =
    frames.map(_.mkString("\n")).mkString("\n--\n")

  private val pixFixture = "src/test/resources/fixtures/pixel_corners.parquet"
  private lazy val (camK, camDist) = {
    val cam = spark.read
      .parquet("src/test/resources/fixtures/camera.parquet").collect()(0)
    def arr(n: String) = cam.getAs[scala.collection.Seq[Double]](n).toSeq
    (arr("k"), arr("dist"))
  }

  test("a rerun at another maxIter rebuilds only the extrinsic stage") {
    val stateDir = Files.createTempDirectory("graft-dag-iter").toString
    val pix = spark.read.parquet(pixFixture)
    DataPipeline.run(spark, pix, stateDir, camK, camDist, maxIter = 12)
    def stored(stage: String) =
      new java.io.File(s"$stateDir/$stage.parquet").listFiles().toSeq
        .filter(f => f.getName == "_graft_key" || f.getName.startsWith("part-"))
        .map(f => (f.getName, f.lastModified, java.util.Arrays.hashCode(
          Files.readAllBytes(f.toPath))))
        .sorted
    val upstream = Seq("warp_matrices", "world_corners", "matched_corners")
    val before = upstream.map(stored)
    val extBefore = stored("extrinsic")
    Thread.sleep(5) // a rewrite would show in the mtimes
    val out = DataPipeline.run(spark, pix, stateDir, camK, camDist,
      maxIter = 13)
    val fresh = DataPipeline.run(spark, pix,
      Files.createTempDirectory("graft-dag-iter-fresh").toString,
      camK, camDist, maxIter = 13)
    def rvec(o: Map[String, org.apache.spark.sql.DataFrame]) =
      o("extrinsic").collect()(0).getAs[scala.collection.Seq[Double]]("rvec")
    val extAfter = stored("extrinsic")
    assert(extAfter.filter(_._1.startsWith("part-")).toSet
      .intersect(extBefore.toSet).isEmpty,
      "the maxIter = 12 extrinsic was reused")
    assert(extAfter.find(_._1 == "_graft_key") !=
      extBefore.find(_._1 == "_graft_key"))
    assert(rvec(out) == rvec(fresh))
    assert(upstream.map(stored) == before, "an upstream stage was rebuilt")
    assert(before.forall(_.exists(_._1 == "_graft_key")))
  }

  test("a pixel-corner table rewritten in place rebuilds warp_matrices") {
    val stateDir = Files.createTempDirectory("graft-dag-rewrite").toString
    val copy =
      s"${Files.createTempDirectory("graft-pix")}/pixel_corners.parquet"
    val fixture = spark.read.parquet(pixFixture)
    def run() = DataPipeline.run(spark, spark.read.parquet(copy), stateDir,
      camK, camDist, maxIter = 1)
    fixture.write.parquet(copy)
    assert(run()("warp_matrices").count() == 3108)
    Thread.sleep(5)
    val kept = fixture.filter(col("ord") < 1000)
    kept.write.mode("overwrite").parquet(copy)
    val out = run()
    val poses = kept.select("pose_id").distinct().count()
    assert(poses < 3108)
    assert(out("warp_matrices").count() == poses,
      "warp_matrices served stale after its input was rewritten")
    assert(out("matched_corners").count() == kept.count())
  }

  /** A table's rows as sorted strings, every double as its raw bits. */
  private def rowBits(rows: Seq[Row]): Seq[String] = {
    def cell(v: Any): String = v match {
      case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))
      case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
      case x => String.valueOf(x)
    }
    rows.map(_.toSeq.map(cell).mkString("|")).sorted
  }
  private def rowBits(df: DataFrame): Seq[String] = rowBits(df.collect().toSeq)

  /** The schema Spark wrote into each part file of a stage, nullability
    * included (a read makes every field nullable).
    */
  private def writtenSchemas(dir: String): Seq[StructType] =
    new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(f.getPath), spark.sparkContext.hadoopConfiguration))
      try DataType.fromJson(r.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata")).asInstanceOf[StructType]
      finally r.close()
    }.toSeq.distinct

  private def tmpDir(prefix: String) = Files.createTempDirectory(prefix).toString

  test("warp, world and match stages are bit-identical to their Spark plans") {
    val stateDir = tmpDir("graft-dag-bits")
    val pix = spark.read.parquet(pixFixture)
    val out = DataPipeline.run(spark, pix, stateDir, camK, camDist, maxIter = 1)
    val world = PipelineRefs.worldCorners(spark)
    Seq("warp_matrices" -> PipelineRefs.warpMatrices(pix),
      "world_corners" -> world,
      "matched_corners" -> PipelineRefs.matchedCorners(pix, world))
      .foreach { case (name, ref) =>
        // read back as a schema-inferring read sees it
        assert(out(name).schema ==
          spark.read.parquet(s"$stateDir/$name.parquet").schema, name)
        assert(writtenSchemas(s"$stateDir/$name.parquet") == Seq(ref.schema), name)
        assert(rowBits(out(name)) == rowBits(ref), name)
      }
    assert(out("matched_corners").count() == 3108 * 4)
  }

  test("the stage tables are bit-equal on 1 and 7 partitions and shuffled pixel rows") {
    val pix = spark.read.parquet(pixFixture)
    def tables(df: DataFrame): Seq[Seq[String]] = {
      val out = DataPipeline.run(spark, df, tmpDir("graft-dag-parts"), camK,
        camDist, maxIter = 2)
      Seq("warp_matrices", "world_corners", "matched_corners", "extrinsic")
        .map(n => rowBits(out(n)))
    }
    val want = tables(pix.repartition(1))
    val p7 = pix.repartition(7)
    assert(p7.rdd.getNumPartitions == 7)
    assert(tables(p7) == want, "7 partitions differ from 1")
    val shuffled = pix.orderBy(xxhash64(col("pose_id"), col("corner_idx")))
    assert(tables(shuffled) == want, "a shuffled row order differs from 1 partition")
  }

  test("a null pixel coordinate stays in matched_corners and out of the solve") {
    val pix = spark.read.parquet(pixFixture)
    val first = pix.orderBy("pose_id", "corner_idx").limit(1).collect()(0)
    val withNull = pix.withColumn("u",
      when(col("pose_id") === first.getAs[String]("pose_id") &&
        col("corner_idx") === first.getAs[Long]("corner_idx"), lit(null))
        .otherwise(col("u")))
    val (rows, pts) = new DataPipeline.PixelCorners(withNull).matched
    val ref = PipelineRefs.matchedCorners(withNull, PipelineRefs.worldCorners(spark))
    assert(rowBits(rows) == rowBits(ref))
    assert(rows.count(_.isNullAt(3)) == 1)
    assert(pts.length == rows.length - 1)
    assert(pts.toSeq == Extrinsic.points(ref).toSeq)
  }

  test("a stage stored without its schema, or with another, is rebuilt") {
    val stateDir = tmpDir("graft-dag-schema")
    val pix = spark.read.parquet(pixFixture)
    def run() = DataPipeline.run(spark, pix, stateDir, camK, camDist, maxIter = 1)
    def parts(stage: String) = new File(s"$stateDir/$stage.parquet").listFiles()
      .map(_.getName).filter(_.startsWith("part-")).toSet
    def keyFile(stage: String) = new File(s"$stateDir/$stage.parquet/_graft_key").toPath
    val stages = Seq("warp_matrices", "world_corners", "matched_corners", "extrinsic")
    val first = run()
    val want = stages.map(n => rowBits(first(n)))
    val before = stages.map(n => n -> parts(n)).toMap
    val keys = stages.map(n => n -> Files.readString(keyFile(n))).toMap
    // matched_corners is keyed by its input and the schema it writes
    val matchedSchema = StructType(
      Seq("pose_id", "ord", "corner_idx", "u", "v").map(pix.schema(_)) ++
        Seq("x", "y", "z").map(StructField(_, DoubleType)))
    assert(keys("matched_corners") == Memo.key(Memo.of(pix), matchedSchema.json))

    // world_corners under its key without the schema, matched_corners
    // under its input with another schema
    Files.writeString(keyFile("world_corners"), "constant")
    Files.writeString(keyFile("matched_corners"),
      Memo.key(Memo.of(pix), StructType(matchedSchema.fields.dropRight(1)).json))
    val again = run()
    Seq("world_corners", "matched_corners").foreach { n =>
      assert(parts(n).intersect(before(n)).isEmpty, s"$n was not rebuilt")
      assert(Files.readString(keyFile(n)) == keys(n), n)
    }
    Seq("warp_matrices", "extrinsic").foreach(n =>
      assert(parts(n) == before(n), s"$n was rebuilt"))
    assert(stages.map(n => rowBits(again(n))) == want)
  }

  test("full DAG computes intrinsics as its first stage (data_pipeline.py:19-24)") {
    import spark.implicits._
    import graft.ops.Geometry
    import graft.pipeline.Intrinsic
    val stateDir = Files.createTempDirectory("graft-dag-calib").toString
    val pix = spark.read
      .parquet("src/test/resources/fixtures/pixel_corners.parquet")
    // synthesize the chessboard views from the golden npz poses (see
    // IntrinsicSpec for the full-precision golden test; here we check the
    // DAG wiring: k/dist are computed, materialized, and memoized)
    val goldK = spark.read
      .parquet("src/test/resources/fixtures/camera.parquet").collect()(0)
      .getAs[scala.collection.Seq[Double]]("k")
    val objp = Intrinsic.objectPoints(9, 11, 45.0)
    val views = Seq(
      (Seq(0.0964, -0.2723, 0.0787), Seq(-175.0, -201.1, 1745.8)),
      (Seq(-0.2101, -0.1263, 0.0201), Seq(-190.1, -202.2, 1771.7)),
      (Seq(-0.1062, -0.0640, 0.0863), Seq(-157.6, -210.2, 1771.1)),
      (Seq(-0.1629, -0.0579, 0.0065), Seq(-166.6, -186.9, 1767.3)),
      (Seq(0.2406, -0.2368, 0.0855), Seq(-41.4, -188.7, 1611.7)),
      (Seq(0.2514, -0.0346, 0.0581), Seq(-62.3, -187.9, 1643.0)))
    val dist8 = Array(0.0558, 0.5418, -0.0045, -0.0110, 0.0, 0.0, 0.0, -0.2606)
    val kDetect = Array(goldK(0) * 0.5, 0.0, goldK(2) * 0.5,
      0.0, goldK(4) * 0.5, goldK(5) * 0.5, 0.0, 0.0, 1.0)
    val calibDir = s"${tmpDir("graft-calib")}/calib_corners.parquet"
    views.zipWithIndex.flatMap { case ((rv, tv), i) =>
      val t = Extrinsic.paramsToT(rv ++ tv).toArray
      objp.map { case (ci, xw, yw) =>
        val (u, v) = Geometry.projectCvScalar(t, kDetect, dist8, xw, yw, 0.0)
        (f"v$i%02d", ci, u, v, xw, yw)
      }
    }.toDF("view_id", "corner_idx", "u", "v", "x", "y").write.parquet(calibDir)
    // read from files, as a capture's corners are: their collect is a job
    val calib = spark.read.parquet(calibDir)

    // the intrinsic collect, the pixel collect and 5 stage writes
    val (out, coldFrames) = withJobFrames(
      DataPipeline.run(spark, pix, calib, stateDir, maxIter = 2))
    assert(coldFrames.length == 7, s"cold jobs:\n${show(coldFrames)}")
    assert(out.contains("camera_matrix"))
    val cam = out("camera_matrix").collect()(0)
    val k = cam.getAs[scala.collection.Seq[Double]]("k")
    assert(math.abs(k(0) - goldK(0)) / goldK(0) < 0.01,
      s"computed fx ${k(0)} vs golden ${goldK(0)}")
    assert(out("matched_corners").count() == 3108 * 4)
    // memoized: second run must not recompute the calibration
    val t0 = System.nanoTime()
    val (again, frames) = withJobFrames(
      DataPipeline.run(spark, pix, calib, stateDir, maxIter = 2))
    assert((System.nanoTime() - t0) / 1e9 < 10.0, "resume should skip stages")
    // one job: the stored camera matrix to the driver
    assert(frames.length == 1 &&
      frames.head.exists(_.startsWith("graft.pipeline.DataPipeline")),
      s"resume jobs:\n${show(frames)}")
    assert(again("camera_matrix").collect()(0)
      .getAs[scala.collection.Seq[Double]]("k") == k)
  }

  test("sampleFrames slices every-nth fixed-size frame from binary blobs") {
    import spark.implicits._
    val blob = (0 until 100).map(_.toByte).toArray
    val df = Seq(("v.bin", blob, blob.length.toLong))
      .toDF("path", "content", "length")
    val frames = Multimodal.sampleFrames(df, frameBytes = 10, everyNth = 3)
      .orderBy("frame_idx").collect()
    assert(frames.length == 4) // frames 0,3,6,9 of 10
    assert(frames.map(_.getAs[Int]("n")).forall(_ == 10))
  }

  test("resizeMeta rescales decoded dimensions through mapPartitions") {
    import spark.implicits._
    val df = Seq(("a.jpg", Array.fill[Byte](64)(7), 64L))
      .toDF("path", "content", "length")
    val m = Multimodal.resizeMeta(df, targetW = 64).collect()(0)
    assert(m.width == 64 && m.height == 48) // 4:3 stub geometry preserved
  }

  test("inferImages: broadcast weights, per-PARTITION model init") {
    // train.py:5-70's VectorToImage at the seeded reduced resolution;
    // the kernel itself is golden-tested against numpy in MultimodalSpec
    import spark.implicits._
    val poses = spark.range(0, 1000).repartition(8)
      .select(col("id"),
        expr("CAST(id AS DOUBLE)").as("x"), expr("CAST(id*2 AS DOUBLE)").as("y"),
        expr("CAST(id*3 AS DOUBLE)").as("z"), lit(0.1).as("a"),
        lit(0.2).as("b"), lit(0.3).as("c"))
    val inits = spark.sparkContext.longAccumulator("inferInits")
    val w = Multimodal.V2IWeights.seeded()
    val out = Multimodal.inferImages(poses, "id",
      Seq("x", "y", "z", "a", "b", "c"), w, Some(inits)).collect()
    assert(out.length == 1000)
    assert(out.forall(r => r.width == w.outSize && r.height == w.outSize))
    assert(out.forall(r => r.pixels.length == w.outSize * w.outSize))
    assert(out.forall(r => r.mean > 0.0 && r.mean < 1.0), "sigmoid range")
    // the model materializes once per partition, never per row. Spark does
    // not deduplicate accumulator updates from retried/speculative tasks,
    // so tolerate >= 8 (a per-row bug would show 1000, not 8-and-change)
    assert(inits.value >= 8 && inits.value < 1000,
      s"expected ~8 partition inits (one per partition), got ${inits.value}")
    // deterministic: same weights, same input, same output
    val again = Multimodal.inferImages(poses, "id",
      Seq("x", "y", "z", "a", "b", "c"), w).collect()
    assert(out.sortBy(_.id).map(_.mean).toSeq ==
      again.sortBy(_.id).map(_.mean).toSeq)
  }

  test("inferImages produces the reference's full (640,640) shape") {
    // the architecture scales to train.py's native resolution — prove it
    // on a couple of rows (full-res pixel planes are 409,600 floats each)
    import spark.implicits._
    val poses = Seq((0L, 0.5, -1.0, 2.0, 0.1, 0.2, 0.3),
      (1L, -0.5, 1.0, -2.0, 0.3, 0.2, 0.1))
      .toDF("id", "x", "y", "z", "a", "b", "c")
    val w = Multimodal.V2IWeights.seeded(outSize = 640)
    val out = Multimodal.inferImages(poses, "id",
      Seq("x", "y", "z", "a", "b", "c"), w).collect()
    assert(out.forall(r => r.width == 640 && r.height == 640 &&
      r.pixels.length == 640 * 640))
  }
}
