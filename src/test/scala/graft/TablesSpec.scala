package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Tables

/** Type-drift guard for the driver's testdata (ops/Tables.scala).
  *
  * Datagen re-typed a column in two consecutive rounds (events.ts
  * TIMESTAMP(NANOS)→µs NTZ in r10, embeddings float→double risk in r11)
  * and each drift broke every query touching the column. Tables now
  * normalizes EVERY declared column through one logical-schema map;
  * this suite proves the map by building variant-typed copies of
  * sf0.001 — nanosecond and instant timestamps, decimal/float numerics,
  * swapped int widths — and asserting (a) the timestamp variants
  * normalize to IDENTICAL epoch-nanos values, (b) normalization is
  * independent of spark.sql.session.timeZone, and (c) every declared
  * query still analyzes and executes against the drifted tables.
  */
class TablesSpec extends SparkSpec {

  private val src = sf("sf0.001")
  private val nanosFixture =
    "src/test/resources/fixtures/variant/events_tsnanos.parquet"

  /** Write df as a SINGLE parquet file at dir/<name>.parquet (matching
    * the driver's one-file-per-table layout, which s1-s3's file-listing
    * scans depend on).
    */
  private def writeOneFile(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = dir.resolve(s"_tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString
      .startsWith("part-")).findFirst.get
    Files.move(part, dir.resolve(s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // drop the write dir (committed/_SUCCESS markers)
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  /** One variant-typed copy of every table: each cast here is a type the
    * datagen COULD plausibly emit next round.
    */
  private lazy val variantDir: String = {
    val dir = Files.createTempDirectory("graft-variant")
    val s = spark
    def rd(n: String) = s.read.parquet(s"$src/$n.parquet")
    // events: the pyarrow-written TIMESTAMP(NANOS) file — the one shape
    // Spark itself cannot write (and the exact r9→r10 drift, reversed)
    Files.copy(Paths.get(nanosFixture), dir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    // instant (tz-aware µs) wall-clock columns
    s.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    writeOneFile(rd("orders")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .withColumn("o_orderkey", col("o_orderkey").cast("int"))
      .withColumn("o_totalprice", col("o_totalprice").cast("decimal(18,4)")),
      dir, "orders")
    writeOneFile(rd("lineitem")
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp"))
      .withColumn("l_linenumber", col("l_linenumber").cast("bigint"))
      .withColumn("l_quantity", col("l_quantity").cast("decimal(18,6)"))
      .withColumn("l_extendedprice", col("l_extendedprice").cast("float"))
      .withColumn("l_discount", col("l_discount").cast("decimal(9,6)"))
      .withColumn("l_tax", col("l_tax").cast("decimal(9,6)")),
      dir, "lineitem")
    writeOneFile(rd("region")
      .withColumn("r_regionkey", col("r_regionkey").cast("bigint")),
      dir, "region")
    writeOneFile(rd("nation")
      .withColumn("n_nationkey", col("n_nationkey").cast("bigint"))
      .withColumn("n_regionkey", col("n_regionkey").cast("smallint")),
      dir, "nation")
    writeOneFile(rd("customer")
      .withColumn("c_custkey", col("c_custkey").cast("int"))
      .withColumn("c_acctbal", col("c_acctbal").cast("decimal(12,2)")),
      dir, "customer")
    writeOneFile(rd("supplier")
      .withColumn("s_suppkey", col("s_suppkey").cast("int"))
      .withColumn("s_acctbal", col("s_acctbal").cast("float")),
      dir, "supplier")
    writeOneFile(rd("part")
      .withColumn("p_size", col("p_size").cast("bigint"))
      .withColumn("p_retailprice", col("p_retailprice").cast("decimal(12,2)")),
      dir, "part")
    writeOneFile(rd("documents")
      .withColumn("doc_id", col("doc_id").cast("int"))
      .withColumn("n_chars", col("n_chars").cast("int")),
      dir, "documents")
    writeOneFile(rd("embeddings")
      .withColumn("vec_id", col("vec_id").cast("int"))
      .withColumn("embedding", col("embedding").cast("array<double>"))
      .withColumn("label", col("label").cast("bigint")),
      dir, "embeddings")
    dir.toString
  }

  private def tsById(dir: String): Map[Long, Long] =
    Tables.events(spark, dir).select("event_id", "ts")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("nanos and µs-NTZ events normalize to identical epoch-nanos") {
    val current = tsById(src)
    assert(current.nonEmpty)
    val nanosDir = Files.createTempDirectory("graft-ns")
    Files.copy(Paths.get(nanosFixture), nanosDir.resolve("events.parquet"))
    assert(tsById(nanosDir.toString) === current,
      "TIMESTAMP(NANOS) read diverged from the µs-NTZ normalization")
  }

  test("instant (tz-aware) events normalize to identical epoch-nanos") {
    val current = tsById(src)
    val ltzDir = Files.createTempDirectory("graft-ltz")
    // under UTC the NTZ wall time IS the instant, so the cast round-trips
    spark.conf.set("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    writeOneFile(spark.read.parquet(s"$src/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp")), ltzDir, "events")
    assert(tsById(ltzDir.toString) === current,
      "instant-typed ts diverged from the µs-NTZ normalization")
  }

  test("ts normalization is independent of session timeZone") {
    // Verify/Bench pin UTC; the claim (ops/Tables.scala scaladoc) is that
    // the TsNanos paths never consult the zone at all. Prove it: load
    // under a zone with DST and a non-integral historical offset.
    val current = tsById(src)
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      assert(tsById(src) === current, "µs-NTZ path consulted session zone")
      val nanosDir = Files.createTempDirectory("graft-ns2")
      Files.copy(Paths.get(nanosFixture), nanosDir.resolve("events.parquet"))
      assert(tsById(nanosDir.toString) === current,
        "nanosAsLong path consulted session zone")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("base relations are memoized per (session, zone, dir, table)") {
    // the catalog behavior (ops/Tables.scala relCache): repeat resolution
    // returns the SAME analyzed plan (no re-list/re-footer ~100 ms), a
    // zone change re-resolves (so the zone-independence tests above keep
    // testing normalization under the changed zone, not a replayed plan)
    val a = Tables.lineitem(spark, src)
    val b = Tables.lineitem(spark, src)
    assert(a eq b, "repeat resolution did not hit the memo")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Kathmandu")
      val c = Tables.lineitem(spark, src)
      assert(!(a eq c), "zone change must re-resolve, not replay")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("a table rewritten in place within one session re-resolves to the new rows") {
    // the relCache key carries the table's listing fingerprint, so the
    // same (session, zone, dir, table) over rewritten files is a new entry
    // (the old one lists part files the overwrite deleted)
    val dir = Files.createTempDirectory("graft-rewrite").toString
    val nation = spark.read.parquet(s"$src/nation.parquet")
    nation.write.parquet(s"$dir/nation.parquet")
    val before = Tables.nation(spark, dir).count()
    val kept = nation.filter(col("n_regionkey") === 0)
    kept.write.mode("overwrite").parquet(s"$dir/nation.parquet")
    val after = Tables.nation(spark, dir)
    assert(after.count() == kept.count() && kept.count() < before,
      s"stale table served after an in-place rewrite: ${after.count()} rows")
  }

  test("every declared query analyzes and executes on drifted types") {
    graft.expr.GraftFunctions.register(spark)
    val dir = variantDir
    val failures = SparkEntry.allDefs.flatMap { q =>
      try {
        q.fn(spark, dir).count(); None
      } catch {
        case e: Throwable => Some(s"${q.name}: " +
          Option(e.getMessage).getOrElse(e.getClass.getName)
            .linesIterator.take(3).mkString(" | "))
      } finally graft.ops.Caches.releaseAll(spark)
    }
    assert(failures.isEmpty,
      s"\n${failures.size} queries fail on variant-typed data:\n  " +
        failures.mkString("\n  "))
  }

  test("a missing declared column fails loudly at load") {
    val dir = Files.createTempDirectory("graft-missing")
    writeOneFile(spark.read.parquet(s"$src/documents.parquet")
      .drop("n_chars"), dir, "documents")
    val e = intercept[RuntimeException] {
      Tables.documents(spark, dir.toString)
    }
    assert(e.getMessage.contains("documents.n_chars"),
      s"unexpected message: ${e.getMessage}")
  }
}
