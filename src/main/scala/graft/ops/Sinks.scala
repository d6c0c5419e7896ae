package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

/** Sink operators (SURVEY.md §2.1 S5-S11). The reference persists one
  * pickle + npz sidecars and writes renamed/annotated files; here every
  * persistent artifact is a parquet table (atomic job commit) and
  * side-effect writers are foreachPartition/pipe stages.
  */
object Sinks {

  /** S5: state checkpoint — the DataManager-pickle equivalent. One
    * parquet table per catalog field, overwritten atomically (Spark's
    * commit protocol); lineage replaces in-place mutation.
    */
  def saveTable(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/$name.parquet")

  /** S5 load side (round-trips saveTable). */
  def loadTable(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** S6: matrix table — the npz equivalent (camera_calib.py:124-128,
    * extrinsic_calibration.py:381-387): named row-major matrices as a
    * 1-row table of array columns in name order, persisted by saveTable
    * or a DataPipeline stage (which writes [[matrixRow]] under
    * [[matrixSchema]]).
    */
  def matrixTable(spark: SparkSession, matrices: Map[String, Seq[Double]])
      : DataFrame = {
    val schema = matrixSchema(matrices.keys.toSeq)
    spark.createDataFrame(java.util.List.of(matrixRow(schema, matrices)), schema)
  }

  /** The matrix table's schema: one non-null array<double> per name, in
    * name order.
    */
  def matrixSchema(names: Seq[String]): StructType =
    StructType(names.sorted.map(n =>
      StructField(n, ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** The matrix table's one row under `schema`; a name `matrices` lacks
    * fails.
    */
  def matrixRow(schema: StructType, matrices: Map[String, Seq[Double]]): Row =
    Row.fromSeq(schema.fieldNames.toSeq.map(matrices))

  /** S11: rename-key projection sink (file_rename_sort.py:7-18): the
    * "rename" is a projection computing the new key `{i div 5}_{i mod 5}`
    * from the ordinal; partitionBy(group) gives the directory layout.
    */
  def renameSink(df: DataFrame, ordCol: String, dir: String,
      groupSize: Int = 5, base: Long = 0): Unit =
    // floor-div + pmod, not div/%, so a signed or offsetted ordinal still
    // yields slot in [0, groupSize) instead of a silent negative pair
    df.withColumn("grp",
        expr(s"cast(floor($ordCol / $groupSize) as bigint) + $base"))
      .withColumn("slot", expr(s"pmod($ordCol, $groupSize)"))
      .withColumn("new_name",
        format_string("%d_%d.JPG", col("grp"), col("slot")))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("grp").parquet(dir)

  /** S8 write-side on the S11 path: EXIF-inheriting rename sink
    * (calculate.py:109-134, the reference's commented-out write shape).
    * Per sorted group of `groupSize` images, the slot's bracket
    * ExposureTime is stamped into the JPEG bytes while the rename key is
    * computed — one map-side projection, no extra shuffle; the read-side
    * walker (Exif.exposureTime) round-trips the stamped value.
    */
  def renameExifSink(df: DataFrame, ordCol: String, contentCol: String,
      dir: String, groupSize: Int = 5,
      exposures: Seq[Double] =
        Seq(1.0 / 200, 1.0 / 800, 1.0 / 400, 1.0 / 100, 1.0 / 50)): Unit = {
    val stamp = Exif.stampExposureUdf(exposures)
    // floor-div + pmod: a negative ordinal must not produce a negative
    // slot (the stamp UDF would silently pass bytes through unstamped)
    df.withColumn("grp", expr(s"cast(floor($ordCol / $groupSize) as bigint)"))
      .withColumn("slot", expr(s"pmod($ordCol, $groupSize)").cast("int"))
      .withColumn("new_name",
        format_string("%d_%d.JPG", col("grp"), col("slot")))
      .withColumn(contentCol, stamp(col(contentCol), col("slot")))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("grp").parquet(dir)
  }

  /** Bucketed table write: co-locates join/agg keys at write time so
    * later equi-joins between tables bucketed on the same key by the
    * same count need NO shuffle at all (asserted on the physical plan in
    * the test suite) — the 100-TB answer for repeated joins on pose_id.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** S9: external-process stage (handlehdrgen.py:30-33 `hdrgen`,
    * lumiadjust.py:14-15 `pcomb`): pipe each partition's rows through a
    * shell command, one process per partition (the RDD.pipe shape — at
    * scale this is the reference's 8-thread pool generalized to the
    * cluster). The hdrgen/pcomb binaries don't exist here; the stage is
    * exercised with standard tools in the test suite.
    */
  def processMap(df: DataFrame, command: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val piped = df.select(col(df.columns.head).cast("string")).as[String]
      .rdd.pipe(command)
    piped.toDF("line")
  }

  /** S7: side-effect writer (annotated-image sink, camera_calib.py:80-82):
    * foreachPartition with a per-partition "writer" init. The actual
    * image encode is out of relational scope (no codecs in container);
    * the writer callback receives (path, payload) pairs.
    */
  def foreachSink(df: DataFrame, pathCol: String, payloadCol: String)(
      write: (String, Array[Byte]) => Unit): Unit =
    df.select(col(pathCol), col(payloadCol)).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        // real impl: init one encoder/filesystem handle per partition here
        it.foreach(r => write(r.getString(0), r.getAs[Array[Byte]](1)))
    }
}
