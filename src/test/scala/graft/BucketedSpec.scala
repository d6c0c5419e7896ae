package graft

import org.apache.spark.sql.functions._
import graft.ops.Tables

/** Lifecycle and correctness of the bucketed-layout catalog
  * (Tables.bucketed, A2_SF100.md §6 productized): values must be
  * layout-independent, the on-disk layout must be reusable by a LATER
  * session without re-paying the ingest (re-register path), and a
  * regenerated source must abandon the stale layout (fingerprint tag).
  */
class BucketedSpec extends SparkSpec {

  private def tmpDir(): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory("graft-bkt-src").toFile
    d.deleteOnExit(); d
  }

  test("bucketed table holds exactly the plain table's rows") {
    val dir = sf("sf0.001")
    val plain = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity")
    val bkt = Tables.bucketedDeclared(spark, dir, "lineitem")
    assert(bkt.columns.toSeq == Seq("l_orderkey", "l_quantity"))
    // exact multiset equality via exceptAll both ways
    assert(plain.exceptAll(bkt).isEmpty && bkt.exceptAll(plain).isEmpty)
  }

  test("one file per bucket (the sorted-read precondition)") {
    val dir = sf("sf0.001")
    Tables.bucketedDeclared(spark, dir, "orders_keys") // ensure ingested
    Tables.bucketedDeclared(spark, dir, "orders_wide")
    // both orders layouts (and anything else ingested this session)
    // must satisfy the invariant
    val tables = spark.catalog.listTables()
      .filter(col("name").startsWith("graft_bkt_orders_"))
      .collect().map(_.name)
    assert(tables.length >= 2, s"expected both orders layouts: ${tables.toSeq}")
    for (t <- tables) {
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
        .filter(col("col_name") === "Location").collect().head.getString(1)
      val files = new java.io.File(new java.net.URI(loc)).listFiles()
        .filter(f => f.getName.startsWith("part-"))
      // repartition(n, key) uses the same murmur3-pmod as the bucket-id
      // assignment, so each write task owns exactly one bucket: no bucket
      // may be split across files (empty buckets write no file at all)
      val byBucket = files.groupBy(_.getName.split("_")(1).take(5))
      assert(byBucket.values.forall(_.length == 1),
        s"$t multi-file buckets: ${byBucket.filter(_._2.length > 1).keys}")
    }
  }

  test("a later session re-registers the on-disk layout without rewriting") {
    val dir = sf("sf0.001")
    val before = Tables.bucketedDeclared(spark, dir, "customer").collect()
    val t = spark.catalog.listTables()
      .filter(col("name").startsWith("graft_bkt_customer_"))
      .collect().head.name
    val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
      .filter(col("col_name") === "Location").collect().head.getString(1)
    val dataFile = new java.io.File(new java.net.URI(loc)).listFiles()
      .filter(_.getName.startsWith("part-")).head
    val mtime = dataFile.lastModified()
    // simulate a NEW session: drop the (external) catalog entry — files
    // stay — and resolve again: Tables.bucketed must take the DDL
    // re-register branch, not re-ingest
    spark.sql(s"DROP TABLE $t")
    val again = Tables.bucketedDeclared(spark, dir, "customer")
    assert(dataFile.lastModified() == mtime,
      "re-registration rewrote the data files")
    assert(again.collect().toSeq.sortBy(_.getLong(0)) ==
      before.toSeq.sortBy(_.getLong(0)))
    // and the re-registered table still carries the bucket spec: a
    // keyed aggregation on it plans with no hash exchange
    val p = again.groupBy("c_custkey").agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"re-registered table lost its bucket spec:\n${p.take(1000)}")
  }

  test("listing fingerprints keep their on-disk values") {
    // both key state that outlives the JVM or the run (the bucketed
    // layout's dir tag, the memoized IVF index): any change to the hash
    // orphans every existing layout, so the values are pinned literally
    val root = new java.io.File(tmpDir(), "lineitem.parquet")
    root.mkdirs()
    Seq(("part-00000.parquet", 5, 1700000000000L),
      ("part-00001.parquet", 12, 1700000001000L),
      ("_SUCCESS", 0, 1700000002000L)).foreach { case (n, size, mtime) =>
      val f = new java.io.File(root, n)
      java.nio.file.Files.write(f.toPath, Array.fill[Byte](size)(7))
      f.setLastModified(mtime)
    }
    assert(Tables.sourceFingerprint(root.getPath) ==
      "3:1700000002000:c58dd7b235c3773d")
    // kmeansIndex keys on fnv1a of its sorted input listing
    assert(Tables.fnv1a(Seq(
      "file:///data/embeddings.parquet/part-00001-c0.snappy.parquet",
      "file:///data/embeddings.parquet/part-00000-c0.snappy.parquet",
      "file:///data/\u00e9mb.parquet").sorted) == -8693908762533161902L)
  }

  test("a regenerated source abandons the stale layout (fingerprint)") {
    import spark.implicits._
    val src = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write
      .parquet(s"$src/foo.parquet")
    // driver datagen drift happens BETWEEN sessions (Tables.t's memoized
    // plan documents paths as immutable within one), so each resolution
    // uses a fresh session — same SparkContext, fresh catalog + relCache
    val s1 = spark.newSession()
    assert(Tables.bucketed(s1, src.toString, "foo", "k",
      Seq("k", "v"), buckets = 2).count() == 2)
    Thread.sleep(5) // ensure a distinct mtime even on coarse filesystems
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").write
      .mode("overwrite").parquet(s"$src/foo.parquet")
    val s2 = spark.newSession()
    assert(Tables.bucketed(s2, src.toString, "foo", "k",
      Seq("k", "v"), buckets = 2).count() == 3,
      "stale bucketed layout served after the source was regenerated")
  }

  test("re-ingest GCs the superseded generation's files (r21)") {
    // r20 ADVICE: abandoned layout generations (fingerprint drift)
    // accumulated multi-GB dirs toward ENOSPC on the sf100 box. The
    // ingest path now deletes same-logical-identity siblings whose tag
    // differs, and ONLY those — another table's layouts stay.
    import spark.implicits._
    val src = tmpDir()
    val root = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BUCKET_DIR", "scratch/bucketed"))
    // per-run table names: layout dirs persist across JVMs by DESIGN, so
    // a fixed name would see live leftovers of earlier test runs (their
    // logicalId names a different tmp src — correctly NOT GC'd)
    val run = java.lang.Long.toHexString(System.nanoTime())
    val gcT = s"gcme$run"
    val keepT = s"keepme$run"
    def gens(t: String) = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith(s"graft_bkt_${t}_"))
      .map(_.getName).toSet
    def rmAll(t: String): Unit =
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(s"graft_bkt_${t}_"))
        .foreach { d =>
          Option(d.listFiles()).foreach(_.foreach(_.delete())); d.delete()
        }
    try {
      Seq((1L, "a")).toDF("k", "v").write.parquet(s"$src/$gcT.parquet")
      Seq((9L, "z")).toDF("k", "v").write.parquet(s"$src/$keepT.parquet")
      val s1 = spark.newSession()
      Tables.bucketed(s1, src.toString, gcT, "k", Seq("k", "v"), buckets = 2)
      Tables.bucketed(s1, src.toString, keepT, "k", Seq("k", "v"), buckets = 2)
      val g1 = gens(gcT)
      val keep1 = gens(keepT)
      assert(g1.size == 1 && keep1.size == 1)
      Thread.sleep(5)
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write
        .mode("overwrite").parquet(s"$src/$gcT.parquet")
      val s2 = spark.newSession()
      Tables.bucketed(s2, src.toString, gcT, "k", Seq("k", "v"), buckets = 2)
      val g2 = gens(gcT)
      assert(g2.size == 1 && g2 != g1,
        s"stale generation not GC'd: $g2 (was $g1)")
      assert(gens(keepT) == keep1, "GC touched an unrelated table's layout")
    } finally { rmAll(gcT); rmAll(keepT) }
  }

  test("GC keeps a RECENT marker-less sibling, collects an aged one (r22)") {
    // r21 ADVICE (medium): the _graft_id marker lands only AFTER
    // saveAsTable and bucketLock is JVM-local, so a sibling dir another
    // JVM is mid-ingest is healthy-but-marker-less; GC must not delete
    // it. Aged marker-less dirs (crashed/pre-marker ingests) still go.
    import spark.implicits._
    val src = tmpDir()
    val root = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BUCKET_DIR", "scratch/bucketed"))
    root.mkdirs()
    val run = java.lang.Long.toHexString(System.nanoTime())
    val t = s"inflight$run"
    def dirs() = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith(s"graft_bkt_${t}_"))
    def rmAll(): Unit = dirs().foreach { d =>
      Option(d.listFiles()).foreach(_.foreach(_.delete())); d.delete()
    }
    try {
      // two fake marker-less siblings: one fresh (in-flight), one aged
      val fresh = new java.io.File(root, s"graft_bkt_${t}_fresh0")
      val aged = new java.io.File(root, s"graft_bkt_${t}_aged00")
      fresh.mkdirs(); aged.mkdirs()
      aged.setLastModified(System.currentTimeMillis() - 7L * 3600 * 1000)
      Seq((1L, "a")).toDF("k", "v").write.parquet(s"$src/$t.parquet")
      Tables.bucketed(spark.newSession(), src.toString, t, "k",
        Seq("k", "v"), buckets = 2)
      val names = dirs().map(_.getName).toSet
      assert(names.contains(s"graft_bkt_${t}_fresh0"),
        "GC deleted a recent marker-less sibling (possible in-flight ingest)")
      assert(!names.contains(s"graft_bkt_${t}_aged00"),
        "GC failed to collect an aged marker-less dir")
    } finally { rmAll() }
  }
}
