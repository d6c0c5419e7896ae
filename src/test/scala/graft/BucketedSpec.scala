package graft

import org.apache.spark.sql.functions._
import graft.ops.{Memo, Tables}

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
    // Memo.files is the key of every bucketed layout stored on disk
    // (its _graft_key): any change to the hash rebuilds every existing
    // layout, so the values are pinned literally
    val root = new java.io.File(tmpDir(), "lineitem.parquet")
    root.mkdirs()
    Seq(("part-00000.parquet", 5, 1700000000000L),
      ("part-00001.parquet", 12, 1700000001000L),
      ("_SUCCESS", 0, 1700000002000L)).foreach { case (n, size, mtime) =>
      val f = new java.io.File(root, n)
      java.nio.file.Files.write(f.toPath, Array.fill[Byte](size)(7))
      f.setLastModified(mtime)
    }
    assert(Memo.files(Seq(root.getPath)) ==
      "3:1700000002000:c58dd7b235c3773d")
    // the listing hash behind Memo.files
    assert(Memo.fnv1a(Seq(
      "file:///data/embeddings.parquet/part-00001-c0.snappy.parquet",
      "file:///data/embeddings.parquet/part-00000-c0.snappy.parquet",
      "file:///data/\u00e9mb.parquet").sorted) == -8693908762533161902L)
  }

  test("a regenerated source abandons the stale layout (fingerprint)") {
    import spark.implicits._
    val src = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write
      .parquet(s"$src/foo.parquet")
    // driver datagen drift happens BETWEEN sessions, so each resolution
    // uses a fresh session — same SparkContext, fresh catalog. Tables.t's
    // relCache and the layout's table name both key on the source
    // listing, so the same session would see the new files too
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

  test("a re-ingest rebuilds the layout's one directory in place") {
    // one directory per logical layout: a regenerated source rebuilds it
    // under a new _graft_key, so no superseded generation is left behind,
    // and another table's layout is untouched
    import spark.implicits._
    val src = tmpDir()
    val root = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BUCKET_DIR", "scratch/bucketed"))
    // per-run table names: layout dirs persist across JVMs by DESIGN, so
    // a fixed name would see live leftovers of earlier test runs
    val run = java.lang.Long.toHexString(System.nanoTime())
    val reT = s"rebuild$run"
    val keepT = s"keepme$run"
    def dirs(t: String) = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith(s"graft_bkt_${t}_"))
    def keyOf(d: java.io.File) = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(d, "_graft_key").toPath), "UTF-8")
    try {
      Seq((1L, "a")).toDF("k", "v").write.parquet(s"$src/$reT.parquet")
      Seq((9L, "z")).toDF("k", "v").write.parquet(s"$src/$keepT.parquet")
      val s1 = spark.newSession()
      Tables.bucketed(s1, src.toString, reT, "k", Seq("k", "v"), buckets = 2)
      Tables.bucketed(s1, src.toString, keepT, "k", Seq("k", "v"), buckets = 2)
      val Array(d1) = dirs(reT)
      val key1 = keyOf(d1)
      val Array(keep) = dirs(keepT)
      val keepFiles = keep.listFiles().map(f => f.getName -> f.lastModified)
        .toSet
      Thread.sleep(5)
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write
        .mode("overwrite").parquet(s"$src/$reT.parquet")
      val s2 = spark.newSession()
      assert(Tables.bucketed(s2, src.toString, reT, "k", Seq("k", "v"),
        buckets = 2).count() == 2)
      val Array(d2) = dirs(reT)
      assert(d2.getName == d1.getName, "the layout moved to a new directory")
      assert(keyOf(d2) != key1, "the rebuilt layout kept its old key")
      assert(dirs(keepT).toSeq == Seq(keep) &&
        keep.listFiles().map(f => f.getName -> f.lastModified).toSet ==
          keepFiles, "a re-ingest touched an unrelated table's layout")
    } finally (dirs(reT) ++ dirs(keepT)).foreach(Memo.rmTree)
  }

  test("an ingest never touches a sibling layout directory") {
    // layout directories are never collected: a sibling (another JVM's
    // in-flight ingest, a layout from an older naming) stays, fresh or old
    import spark.implicits._
    val src = tmpDir()
    val root = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_BUCKET_DIR", "scratch/bucketed"))
    root.mkdirs()
    val run = java.lang.Long.toHexString(System.nanoTime())
    val t = s"sibling$run"
    def dirs() = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith(s"graft_bkt_${t}_"))
    try {
      val fresh = new java.io.File(root, s"graft_bkt_${t}_fresh0")
      val aged = new java.io.File(root, s"graft_bkt_${t}_aged00")
      fresh.mkdirs(); aged.mkdirs()
      aged.setLastModified(System.currentTimeMillis() - 7L * 3600 * 1000)
      Seq((1L, "a")).toDF("k", "v").write.parquet(s"$src/$t.parquet")
      Tables.bucketed(spark.newSession(), src.toString, t, "k",
        Seq("k", "v"), buckets = 2)
      val names = dirs().map(_.getName).toSet
      assert(names.size == 3 && names(fresh.getName) && names(aged.getName),
        s"an ingest touched a sibling layout directory: $names")
    } finally dirs().foreach(Memo.rmTree)
  }
}
