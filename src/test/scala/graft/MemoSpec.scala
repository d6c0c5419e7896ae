package graft

import java.io.File
import java.nio.file.Files

import graft.ops.Memo

/** The one staleness rule (ops/Memo.scala): an on-disk entry is reused
  * only with both `_SUCCESS` and a `_graft_key` equal to the caller's
  * key; anything else is rebuilt, and only the entry's own directory is
  * ever touched.
  */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): File = Files.createTempDirectory("graft-memo").toFile

  /** A stage writer that counts its builds. */
  private final class Stage(dir: File) {
    var builds = 0
    def apply(key: String): Boolean = Memo.onDisk(dir, key) {
      builds += 1
      Seq((1, "x")).toDF("k", "v").write.mode("overwrite").parquet(dir.getPath)
    }
  }

  test("onDisk writes once per key, and rebuilds after rmTree") {
    val dir = new File(tmp(), "s1.parquet")
    val s = new Stage(dir)
    assert(s("a") && !s("a") && s.builds == 1,
      "second call must reuse the stored entry")
    assert(new File(dir, "_SUCCESS").isFile)
    Memo.rmTree(dir)
    assert(!dir.exists)
    assert(s("a") && s.builds == 2)
    assert(spark.read.parquet(dir.getPath).count() == 1,
      "_graft_key must be hidden from the parquet reader")
  }

  test("part files without _SUCCESS (a stage killed mid-write) are rebuilt") {
    val dir = new File(tmp(), "s.parquet")
    val s = new Stage(dir)
    s("a")
    // what a writer killed after its tasks committed files but before the
    // job commit leaves: part files, no _SUCCESS, no key
    new File(dir, "_SUCCESS").delete()
    new File(dir, "_graft_key").delete()
    assert(s("a") && s.builds == 2)
    assert(new File(dir, "_SUCCESS").isFile)
  }

  test("_SUCCESS with no _graft_key, or with a different one, is rebuilt") {
    val dir = new File(tmp(), "s.parquet")
    val s = new Stage(dir)
    s("a")
    new File(dir, "_graft_key").delete()
    assert(s("a") && s.builds == 2, "a missing key must not count as valid")
    assert(s("b") && s.builds == 3, "a different key must rebuild")
    assert(new String(Files.readAllBytes(
      new File(dir, "_graft_key").toPath), "UTF-8") == "b")
    assert(!s("b") && s.builds == 3)
  }

  test("an unrelated sibling directory is never touched") {
    val root = tmp()
    val sib = new File(root, "s.parquet.old")
    sib.mkdirs()
    val f = new File(sib, "part-00000.parquet")
    Files.write(f.toPath, Array[Byte](1, 2, 3))
    f.setLastModified(1700000000000L)
    val s = new Stage(new File(root, "s.parquet"))
    s("a"); s("b")
    assert(s.builds == 2)
    assert(sib.listFiles().map(_.getName).toSeq == Seq("part-00000.parquet"))
    assert(f.lastModified == 1700000000000L && f.length == 3)
  }

  test("of(df) tells a filter, new in-memory rows and a rewrite apart") {
    val src = new File(tmp(), "t.parquet").getPath
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.parquet(src)
    val k0 = Memo.of(spark.read.parquet(src))
    assert(Memo.of(spark.read.parquet(src)) == k0, "a re-read is the same key")
    assert(Memo.of(spark.newSession().read.parquet(src)) == k0,
      "another session is the same key")
    assert(Memo.of(spark.read.parquet(src).filter("id > 1")) != k0)
    assert(Memo.of(Seq(1L, 2L).toDF("id")) == Memo.of(Seq(1L, 2L).toDF("id")))
    assert(Memo.of(Seq(1L, 2L).toDF("id")) != Memo.of(Seq(1L, 3L).toDF("id")),
      "in-memory rows must be part of the key")
    Thread.sleep(5)
    Seq(1L, 2L, 4L).toDF("id").coalesce(1).write.mode("overwrite").parquet(src)
    assert(Memo.of(spark.read.parquet(src)) != k0)
  }

  test("of(df) tells RDD-backed inputs of one schema apart") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val sc = spark.sparkContext
    val schema = StructType(Seq(StructField("id", LongType)))
    def rows(xs: Long*) = spark.createDataFrame(
      sc.parallelize(xs.map(Row(_))), schema)
    val a = rows(1L)
    assert(Memo.of(a) == Memo.of(a), "the same DataFrame is the same key")
    assert(Memo.of(a) != Memo.of(rows(2L)))
    assert(Memo.of(sc.parallelize(Seq(1L)).toDF("id")) !=
      Memo.of(sc.parallelize(Seq(2L)).toDF("id")))
  }

  test("Lru bounds its entries and serves hits without rebuilding") {
    val lru = new Memo.Lru[String, Int](2)
    var builds = 0
    def get(k: String) = lru(k) { builds += 1; k.length }
    get("a"); get("bb"); get("a")
    assert(builds == 2)
    get("ccc") // evicts "bb", the least recently used
    get("a")
    assert(builds == 3)
    get("bb")
    assert(builds == 4)
    lru.clear(); get("bb")
    assert(builds == 5)
  }
}
