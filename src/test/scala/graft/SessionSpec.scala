package graft

import java.io.{File, RandomAccessFile}
import java.nio.file.Files

/** The one session builder (Bench.session): the suites run on the shape
  * Bench times, and both sides of its 64 MB corpus switch are pinned.
  */
class SessionSpec extends SparkSpec {

  private def conf(dir: String, cpus: Int) =
    Bench.sessionConf(dir, cpus).toMap

  test("the test session is Bench.session's tiny-corpus shape") {
    val c = spark.conf
    assert(c.get("spark.sql.adaptive.enabled") == "false")
    assert(c.get("spark.sql.shuffle.partitions") == "4")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.io.compression.codec") == "lz4")
    assert(spark.sparkContext.master == "local[4]")
  }

  test("64 MB switch: tiny below, scale shape at and above") {
    val dir = Files.createTempDirectory("graft-sizing").toFile
    val f = new File(dir, "t.parquet")
    // sparse: setLength reserves no blocks, so nothing near 1 GB is written
    def sized(n: Long) = {
      val r = new RandomAccessFile(f, "rw"); try r.setLength(n) finally r.close()
      conf(dir.getPath, 4)
    }
    try {
      val empty = conf(dir.getPath, 4)
      assert(empty("spark.sql.adaptive.enabled") == "false")
      assert(empty("spark.sql.files.maxPartitionBytes") == (16L << 20).toString)
      val below = sized((64L << 20) - 1)
      assert(below("spark.sql.adaptive.enabled") == "false")
      assert(below("spark.sql.shuffle.partitions") == "4")
      val at = sized(64L << 20)
      assert(at("spark.sql.adaptive.enabled") == "true")
      assert(at("spark.sql.shuffle.partitions") == "4") // = cpus
      val big = sized(1L << 30)
      assert(big("spark.sql.adaptive.enabled") == "true")
      assert(big("spark.sql.shuffle.partitions") == "16") // 1 GB / 64 MB
      assert(big("spark.sql.files.maxPartitionBytes") == (64L << 20).toString)
      for (c <- Seq(empty, below, at, big)) {
        assert(c("spark.master") == "local[4]")
        assert(c("spark.sql.session.timeZone") == "UTC")
        assert(c("spark.sql.legacy.parquet.nanosAsLong") == "true")
        assert(c("spark.io.compression.codec") == "lz4")
      }
    } finally { f.delete(); dir.delete() }
  }

  test("a missing dir sizes as a scale corpus") {
    val missing = new File(Files.createTempDirectory("graft-sizing").toFile, "absent")
    assert(!Bench.tinyCorpus(missing.getPath))
    val c = conf(missing.getPath, 4)
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.shuffle.partitions") == "32") // capped at 8x cpus
  }
}
