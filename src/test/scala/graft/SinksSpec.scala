package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.ops.{Exif, Sinks}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("saveTable/loadTable round-trip preserves rows (S5)") {
    val dir = Files.createTempDirectory("graft-state").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    Sinks.saveTable(df, dir, "t")
    val back = Sinks.loadTable(spark, dir, "t")
    assert(back.count() == 2)
    assert(back.orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("matrixTable writes named matrices readable as arrays (S6)") {
    val dir = Files.createTempDirectory("graft-npz").toString
    Sinks.saveTable(Sinks.matrixTable(spark,
      Map("k" -> Seq(1.0, 2.0), "dist" -> Seq(0.5))), dir, "camera")
    val row = Sinks.loadTable(spark, dir, "camera").collect()(0)
    assert(row.getAs[scala.collection.Seq[Double]]("k").toSeq == Seq(1.0, 2.0))
    assert(row.getAs[scala.collection.Seq[Double]]("dist").toSeq == Seq(0.5))
  }

  test("renameSink computes {div5}_{mod5} names partitioned by group (S11)") {
    val dir = Files.createTempDirectory("graft-rename").toString + "/out"
    val df = (0L until 12L).toDF("ord")
    Sinks.renameSink(df, "ord", dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 12)
    val names = back.orderBy("ord").select("new_name").as[String].collect()
    assert(names(0) == "0_0.JPG" && names(5) == "1_0.JPG" &&
      names(11) == "2_1.JPG")
  }

  test("processMap pipes partitions through an external command (S9)") {
    val df = Seq("alpha", "beta", "gamma").toDF("s")
    val out = Sinks.processMap(df, Seq("tr", "a-z", "A-Z"))
      .as[String].collect().toSet
    assert(out == Set("ALPHA", "BETA", "GAMMA"))
  }

  // hand-built JPEG: SOI + APP1(Exif, little-endian TIFF):
  //   IFD0: 1 entry (ExifIFDPointer -> 26); ExifIFD: 1 entry
  //   (ExposureTime RATIONAL @ 44) = 1/200
  private def sampleJpeg: Array[Byte] = {
    def u16(v: Int) = Seq((v >> 8) & 0xff, v & 0xff) // big-endian (marker/len)
    def le16(v: Int) = Seq(v & 0xff, (v >> 8) & 0xff)
    def le32(v: Int) = Seq(v & 0xff, (v >> 8) & 0xff, (v >> 16) & 0xff,
      (v >> 24) & 0xff)
    val tiff =
      Seq('I'.toInt, 'I'.toInt, 42, 0) ++ le32(8) ++ // header, IFD0 @ 8
      le16(1) ++ le16(0x8769) ++ le16(4) ++ le32(1) ++ le32(26) ++ // IFD0
      le32(0) ++ // next-IFD
      le16(1) ++ le16(0x829a) ++ le16(5) ++ le32(1) ++ le32(44) ++ // ExifIFD @ 26
      le32(0) ++
      le32(1) ++ le32(200) // rational @ 44
    val app1 = Seq('E'.toInt, 'x'.toInt, 'i'.toInt, 'f'.toInt, 0, 0) ++ tiff
    (Seq(0xff, 0xd8, 0xff, 0xe1) ++ u16(app1.length + 2) ++ app1)
      .map(_.toByte).toArray
  }

  test("stamping a stale Exif block replaces it — never a second APP1 (S8)") {
    // same JPEG but the ExifIFD entry is Flash (0x9209), not ExposureTime:
    // an Exif block that EXISTS but lacks the tag
    val stale = sampleJpeg
    val tagOff = stale.indexOfSlice(Seq(0x9a.toByte, 0x82.toByte))
    val noTag = stale.clone()
    noTag(tagOff) = 0x09.toByte; noTag(tagOff + 1) = 0x92.toByte
    assert(Exif.exposureTime(noTag).isEmpty)
    val stamped = Exif.setExposureTime(noTag, 5000L, 1000000L)
    assert(Exif.exposureTime(stamped).contains((5000L, 1000000L)))
    // exactly one APP1 segment: the stale block was spliced out, not
    // shadowed (external tools preferring later segments would otherwise
    // read inconsistent Exif)
    val app1Count = stamped.indices.count(i =>
      i + 1 < stamped.length && (stamped(i) & 0xff) == 0xff &&
        (stamped(i + 1) & 0xff) == 0xe1)
    assert(app1Count == 1, s"expected one APP1, found $app1Count")
    assert(!stamped.toSeq.containsSlice(Seq(0x09.toByte, 0x92.toByte)),
      "stale Flash tag should be gone with its block")
  }

  test("Exif reader extracts ExposureTime from a minimal APP1 blob (S8)") {
    val jpeg = sampleJpeg
    assert(Exif.exposureTime(jpeg).contains((1L, 200L)))
    // through the UDF on a DataFrame
    val df = Seq(Tuple1(jpeg)).toDF("content")
      .select(Exif.exposureSecondsUdf(col("content")).as("exp"))
    assert(math.abs(df.collect()(0).getDouble(0) - 0.005) < 1e-12)
    // garbage bytes -> None, no crash
    assert(Exif.exposureTime(Array[Byte](1, 2, 3)).isEmpty)
    assert(Exif.exposureTime(null).isEmpty)
  }

  test("ExposureTime write survives the rename sink (S8 write side, S11)") {
    // in-place overwrite: tag exists, all other bytes untouched
    val withTag = sampleJpeg
    val over = Exif.setExposureTime(withTag, 2500L, 1000000L)
    assert(Exif.exposureTime(over).contains((2500L, 1000000L)))
    assert(over.length == withTag.length)
    assert(Exif.exposureTime(withTag).contains((1L, 200L)),
      "input bytes must not be mutated")
    // insert path: bare JPEG with no Exif block gets a minimal APP1
    val bare = Array(0xff, 0xd8, 0x11, 0x22).map(_.toByte)
    val ins = Exif.setExposureTime(bare, 10000L, 1000000L)
    assert(Exif.exposureTime(ins).contains((10000L, 1000000L)))
    assert(ins.takeRight(2).toSeq == bare.takeRight(2).toSeq,
      "original payload must follow the inserted segment")
    // non-JPEG bytes pass through unchanged
    assert(Exif.setExposureTime(Array[Byte](1, 2, 3), 1L, 2L).toSeq ==
      Seq[Byte](1, 2, 3))
    // full round-trip through the rename sink: 10 images (mixed
    // has-Exif / bare), 2 groups of 5, bracket per slot
    val dir = Files.createTempDirectory("graft-exif-rename").toString + "/out"
    val rows = (0L until 10L).map(i =>
      (i, if (i % 2 == 0) sampleJpeg else bare))
    Sinks.renameExifSink(rows.toDF("ord", "content"), "ord", "content", dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 10)
    val got = back.orderBy("ord")
      .select(Exif.exposureSecondsUdf(col("content")).as("e"),
        col("new_name"))
      .collect()
    val bracket = Seq(1.0 / 200, 1.0 / 800, 1.0 / 400, 1.0 / 100, 1.0 / 50)
    (0 until 10).foreach { i =>
      assert(math.abs(got(i).getDouble(0) - bracket(i % 5)) < 1e-9,
        s"image $i should carry bracket slot ${i % 5}")
    }
    assert(got(7).getString(1) == "1_2.JPG")
  }
}
