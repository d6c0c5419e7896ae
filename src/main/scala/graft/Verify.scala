package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: query names to (re-)dump — dev tooling for
    // iterating on one query at a big sf without a 20-minute full sweep.
    // The driver always passes exactly two args → full sweep.
    val only = args.drop(2).toSet
    // the session Bench times, so the plans checked are the plans timed
    val spark = Bench.session(sfDir, Bench.envCpus)
    new java.io.File(outDir).mkdirs()
    // Dumps default to one part file: the driver's sf0.01 gate compares
    // rows positionally, so the file must carry the query's ORDER BY.
    // At builder scale points a single-task write of a 60M-row result is
    // the whole wall clock (one core, everything else idle) —
    // SPARK_GRAFT_DUMP_COALESCE=0 keeps the write at natural parallelism
    // and scripts/check.py canonicalizes row order on both sides instead.
    val parts = sys.env.getOrElse("SPARK_GRAFT_DUMP_COALESCE", "1").toInt
    // A query that throws must NOT vanish silently (r10 shipped a 4-query
    // regression that way): record every failure and exit non-zero.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    // Scale-point knob (dev tooling; the driver never sets it): a query
    // whose single-node footprint exceeds the box at a huge mult — t8's
    // candidate-pair join shuffles ~pairs x |shingle set| bytes, ~9x the
    // sf10 volume at sf30, past this box's free disk — is skipped here
    // and covered by its slice twin plus full rows at smaller points.
    // Must be paired with the same name in SPARK_GRAFT_SKIP_ORACLES or
    // check.py fails on the missing dump (deliberate: a skip must be
    // declared on both sides to count as a skip, not a silent gap).
    val skipQ = sys.env.getOrElse("SPARK_GRAFT_SKIP_QUERIES", "")
      .split(",").filter(_.nonEmpty).toSet
    SparkEntry.queries.foreach { case (name, fn) =>
      if (skipQ(name)) {
        if (only.isEmpty || only(name))
          System.err.println(s"[verify] $name SKIPPED (SPARK_GRAFT_SKIP_QUERIES)")
      } else if (only.isEmpty || only(name)) {
        try {
          val df = fn(spark, sfDir)
          (if (parts > 0) df.coalesce(parts) else df)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        }
        // queries that cache (t8's shingle set, w2/w9's persisted sort) are
        // done with their blocks once dumped; at mult>=30 scale points 67
        // queries' worth of leftover storage is real memory pressure.
        // releaseAll also unpersists RDD-level caches clearCache misses.
        graft.ops.Caches.releaseAll(spark)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // {SF_DIR} -> the literal data dir: file-listing oracles (s1-s3) use
    // DuckDB table functions (read_blob), whose args must be constants, so
    // the dir is spliced into the dumped SQL here rather than discovered
    // at query time.
    // sfDir lands inside single-quoted SQL string literals — double any
    // single quote so a quoted path cannot break the oracle SQL
    val sqlDir = sfDir.replace("'", "''")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{SF_DIR}", sqlDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failures.json"), failJson)
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
