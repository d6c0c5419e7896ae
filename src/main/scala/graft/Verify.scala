package graft
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
    // A query that throws is recorded in failures.json and exits non-zero.
    val failures = SparkEntry.sweep(spark, "verify",
        only = n => only.isEmpty || only(n)) { q =>
      val df = q.fn(spark, sfDir)
      (if (parts > 0) df.coalesce(parts) else df)
        .write.mode("overwrite").parquet(s"$outDir/${q.name}")
    }.collect { case (name, Left(e)) =>
      name -> Option(e.getMessage).getOrElse(e.getClass.getName)
    }
    // {SF_DIR} -> the literal data dir: file-listing oracles (s1-s3) use
    // DuckDB table functions (read_blob), whose args must be constants, so
    // the dir is spliced into the dumped SQL here rather than discovered
    // at query time.
    // sfDir lands inside single-quoted SQL string literals — double any
    // single quote so a quoted path cannot break the oracle SQL
    val sqlDir = sfDir.replace("'", "''")
    Json.write(s"$outDir/oracle_sql.json", Json.obj(SparkEntry.oracleSql.toSeq
      .map { case (k, v) => k -> Json.str(v.replace("{SF_DIR}", sqlDir)) }))
    Json.write(s"$outDir/failures.json",
      Json.obj(failures.map { case (k, v) => k -> Json.str(v.take(500)) }))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size} queries FAILED: ${failures.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }
}
