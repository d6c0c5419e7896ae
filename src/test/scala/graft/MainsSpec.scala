package graft

import graft.ops.Caches
import graft.queries.QueryDef

/** The pieces every main shares: the declared-query sweep and the JSON
  * writer.
  */
class MainsSpec extends SparkSpec {

  test("the sweep logs a throwing def, runs the defs after it and ends with empty storage") {
    // storage another suite on the shared session left behind is not the
    // sweep's to release
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ran = scala.collection.mutable.ArrayBuffer[String]()
    // each def caches a DataFrame and materializes it: the failing one
    // too, before it throws
    def cachingDef(name: String, fail: Boolean) = QueryDef(name, (s, _) => {
      val df = Caches.cached(s.range(0, 100).toDF("id"))
      df.count()
      if (fail) throw new IllegalStateException(s"$name broke")
      df
    }, "SELECT 1")
    val defs = Seq(cachingDef("c_after", fail = false),
      cachingDef("b_throws", fail = true), cachingDef("a_first", fail = false),
      cachingDef("d_skipped", fail = false))
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val out =
      try SparkEntry.sweep(spark, "sweeptest", skip = Set("d_skipped"),
        defs = defs) { q => ran += q.name; Bench.runFull(q.fn(spark, "")) }
      finally System.setErr(saved)
    val log = err.toString("UTF-8")
    assert(ran.toSeq == Seq("a_first", "b_throws", "c_after"))
    assert(out.map(_._1) == Seq("a_first", "b_throws", "c_after"))
    assert(out.map(_._2.isRight) == Seq(true, false, true))
    assert(out(0)._2 == Right(100L) && out(2)._2 == Right(100L))
    assert(log.contains("[sweeptest] b_throws FAILED: " +
      "java.lang.IllegalStateException: b_throws broke"), log)
    assert(log.contains("[sweeptest] d_skipped SKIPPED"), log)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"the sweep left storage behind: $left")
  }

  test("Json.str round-trips an sf path with a quote, a backslash and control chars") {
    val sf = "/data/a \"b\"\\c\td\u0001e\nf"
    val line = Json.obj(Seq("metric" -> Json.str("total"),
      "value" -> 1.5.toString, "sf" -> Json.str(sf)))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(node.get("sf").asText == sf)
    assert(node.get("value").asDouble == 1.5)
    assert(node.fieldNames().next() == "metric")
  }
}
