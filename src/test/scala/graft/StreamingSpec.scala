package graft

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.Sessionize
import graft.streaming.Sessionize.FileEvent

/** Streaming sessionization (SURVEY.md §2.10): group-of-5 assembly with
  * event-time timeout flush, driven through a MemoryStream.
  */
class StreamingSpec extends SparkSpec {

  private def ev(pose: String, slot: Int, sec: Long) =
    FileEvent(pose, slot, s"${pose}_$slot.JPG", new Timestamp(sec * 1000))

  test("completeGroups emits full groups immediately, flushes partials on watermark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[FileEvent]
    val out = Sessionize.completeGroups(input.toDS(), groupSize = 5,
      gapSeconds = 12)
    val query = out.writeStream
      .format("memory").queryName("groups").outputMode(OutputMode.Append())
      .start()
    try {
      // pose 0: all five exposures; pose 1: only three
      input.addData((0 until 5).map(s => ev("0", s, 100 + s)) ++
        (0 until 3).map(s => ev("1", s, 110 + s)))
      query.processAllAvailable()
      val afterBatch1 = spark.table("groups").as[Sessionize.PoseGroup]
        .collect()
      assert(afterBatch1.map(_.poseId).toSet == Set("0"))
      assert(afterBatch1.head.complete && afterBatch1.head.n == 5)
      assert(afterBatch1.head.paths == (0 until 5).map(s => s"0_$s.JPG"))

      // advance the watermark far past pose 1's last event + 12s
      input.addData(ev("2", 0, 500))
      query.processAllAvailable()
      input.addData(ev("2", 1, 600)) // one more to trigger timeout sweep
      query.processAllAvailable()
      val flushed = spark.table("groups").as[Sessionize.PoseGroup]
        .collect().filter(_.poseId == "1")
      assert(flushed.length == 1, "partial group must flush on timeout")
      assert(!flushed.head.complete && flushed.head.n == 3)
    } finally query.stop()
  }

  test("binaryFile directory stream feeds group assembly end-to-end") {
    // the reference's actual ingestion: a camera drops {pose}_{slot}.JPG
    // files into a directory over time (SURVEY §2.10 source side)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest")
    def drop(pose: String, slot: Int): Unit =
      java.nio.file.Files.write(dir.resolve(s"${pose}_$slot.JPG"),
        s"fake-jpeg-$pose-$slot".getBytes)
    (0 until 5).foreach(drop("0", _))
    (0 until 2).foreach(drop("1", _))

    val files = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(dir.toString)
    val events = files.select(
      regexp_extract(col("path"), "([^/]+)_([0-9]+)\\.JPG$", 1).as("poseId"),
      regexp_extract(col("path"), "([^/]+)_([0-9]+)\\.JPG$", 2)
        .cast("int").as("slot"),
      col("path"), col("modificationTime").as("ts"))
      .as[FileEvent]
    // the plain form, and the capture's composed form: the dedup runs
    // inside the group-assembly operator, one stateful operator in all
    def run(name: String, groups: Dataset[Sessionize.PoseGroup])
        : (Seq[Sessionize.PoseGroup], Int) = {
      val q = groups.writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        q.processAllAvailable()
        (spark.table(name).as[Sessionize.PoseGroup].collect().toSeq
          .map(g => g.copy(paths = g.paths.sorted)).sortBy(_.poseId),
          q.lastProgress.stateOperators.length)
      } finally q.stop()
    }
    val (groups, _) = run("ingest", Sessionize.completeGroups(events))
    val full = groups.filter(_.poseId == "0")
    assert(full.length == 1 && full.head.complete && full.head.n == 5,
      s"expected pose 0 complete, got ${groups.mkString(";")}")
    assert(full.head.paths.map(_.split('/').last) ==
      (0 until 5).map(s => s"0_$s.JPG"))
    // pose 1 (2 files) must still be held in state, not emitted
    assert(!groups.exists(_.poseId == "1"))

    val (composed, stateOps) = run("ingest_composed", Sessionize.completeGroups(
      Sessionize.dedupedEvents(events, withinSeconds = 60), setWatermark = false))
    assert(composed == groups)
    assert(stateOps == 1)
  }

  test("streaming dedup drops re-delivered events within the watermark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[FileEvent]
    val q = Sessionize.dedupedEvents(input.toDS(), withinSeconds = 60)
      .writeStream
      .format("memory").queryName("deduped")
      .outputMode(OutputMode.Append())
      .start()
    try {
      // slot 1 delivered three times (same key, retried upload)
      input.addData(Seq(ev("7", 0, 100), ev("7", 1, 101),
        ev("7", 1, 101), ev("7", 1, 102)))
      q.processAllAvailable()
      val rows = spark.table("deduped").as[FileEvent].collect()
      assert(rows.length == 2, s"expected 2 unique events, got ${rows.toSeq}")
      assert(rows.map(e => (e.poseId, e.slot)).toSet ==
        Set(("7", 0), ("7", 1)))
    } finally q.stop()
  }

  test("dedupedEvents drops a re-delivery in a later batch within the window") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[FileEvent]
    val q = Sessionize.dedupedEvents(input.toDS(), withinSeconds = 60)
      .writeStream.format("memory").queryName("dedup_later")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev("7", 0, 100), ev("7", 1, 101))
      q.processAllAvailable()
      // watermark now 41 s: slot 0's key lives until 160 s
      input.addData(ev("7", 0, 130), ev("7", 2, 131))
      q.processAllAvailable()
      val rows = spark.table("dedup_later").as[FileEvent].collect()
      assert(rows.map(e => (e.slot, e.ts.getTime)).sorted.toSeq ==
        Seq((0, 100000L), (1, 101000L), (2, 131000L)))
    } finally q.stop()
  }

  test("dedupedEvents emits a key again once the watermark passes ts + window") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[FileEvent]
    val q = Sessionize.dedupedEvents(input.toDS(), withinSeconds = 60)
      .writeStream.format("memory").queryName("dedup_expiry")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev("7", 0, 100))
      q.processAllAvailable()
      // max ts 220 s: the next batch's watermark is exactly 160 s, the
      // key's expiry, so it is evicted at the end of that batch
      input.addData(ev("8", 0, 220))
      q.processAllAvailable()
      input.addData(ev("7", 0, 221))
      q.processAllAvailable()
      val rows = spark.table("dedup_expiry").as[FileEvent].collect()
        .filter(_.poseId == "7")
      assert(rows.map(_.ts.getTime).sorted.toSeq == Seq(100000L, 221000L))
    } finally q.stop()
  }

  test("dedupedEvents drops an event below the watermark as late") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[FileEvent]
    val q = Sessionize.dedupedEvents(input.toDS(), withinSeconds = 60)
      .writeStream.format("memory").queryName("dedup_late")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(ev("7", 0, 200))
      q.processAllAvailable()
      // watermark 140 s: 139 s is late, 140 s (on it) too, 141 s is not
      input.addData(ev("8", 0, 139), ev("8", 1, 140), ev("8", 2, 141))
      q.processAllAvailable()
      val rows = spark.table("dedup_late").as[FileEvent].collect()
      assert(rows.map(e => (e.poseId, e.slot)).sorted.toSeq ==
        Seq(("7", 0), ("8", 2)))
    } finally q.stop()
  }

  test("HDR merge runs as a foreachBatch stage over completed groups") {
    // §2.10 sink side: each completed 5-exposure group is merged to HDR
    // radiance inside foreachBatch — the external hdrgen stage
    // (handlehdrgen.py:30-33) as a streaming Spark stage
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.ops.Hdr
    val bracket = Hdr.ExposureBracket
    val zs = Seq(0.5, 0.25, 0.4, 0.7, 0.9)
    val pixels = (for (p <- Seq("0", "1"); s <- 0 until 5) yield {
      val scale = if (p == "0") 2.0 else 4.0
      (s"${p}_$s.JPG", s + 1, bracket(s), Seq(zs(s), zs(s) / scale))
    }).toDF("path", "slot", "t", "px")
    val input = MemoryStream[FileEvent]
    val merged = mutable.ArrayBuffer[(String, Seq[Double])]()
    val q = Sessionize.completeGroups(input.toDS())
      .filter(_.complete)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch {
        (batch: Dataset[Sessionize.PoseGroup], _: Long) =>
          val exposures = batch.toDF()
            .select(col("poseId"), explode(col("paths")).as("path"))
            .join(pixels, "path")
          Hdr.mergeGroups(exposures, "poseId", "slot", "t", "px")
            .collect()
            .foreach(r => merged.synchronized {
              merged += (r.getString(0) ->
                r.getAs[scala.collection.Seq[Double]]("radiance").toSeq)
            })
      }
      .start()
    try {
      // batch 1: group 0 completes, group 1 is still partial — radiance
      // must appear for 0 only
      input.addData((0 until 5).map(s => ev("0", s, 100 + s)) ++
        (0 until 3).map(s => ev("1", s, 200 + s)))
      q.processAllAvailable()
      assert(merged.synchronized(merged.map(_._1).toSeq) == Seq("0"),
        "incomplete group must not emit radiance")
      // batch 2: group 1's last two exposures arrive — its radiance
      // appears in THIS batch (per-batch emission as groups complete)
      input.addData((3 until 5).map(s => ev("1", s, 203 + s)))
      q.processAllAvailable()
    } finally q.stop()
    assert(merged.map(_._1).sorted.toSeq == Seq("0", "1"))
    // scalar reference of the merge formula per channel
    def expected(chan: Seq[Double]): Double = {
      val terms = chan.zip(bracket).map { case (z, t) =>
        val w = math.max(1e-3, 1.0 - math.abs(2 * z - 1)); (w * z / t, w)
      }
      terms.map(_._1).sum / terms.map(_._2).sum
    }
    val byPose = merged.toMap
    val g0 = byPose("0")
    assert(math.abs(g0(0) - expected(zs)) < 1e-12)
    assert(math.abs(g0(1) - expected(zs.map(_ / 2))) < 1e-12)
    val g1 = byPose("1")
    assert(math.abs(g1(0) - expected(zs)) < 1e-12)
    assert(math.abs(g1(1) - expected(zs.map(_ / 4))) < 1e-12)
  }

  // ---- completeGroups(dedupedEvents(x)): the dedup runs in the group state

  private type Group = (String, Int, Boolean, Long, Long, Seq[String])

  /** Starts `groups` into a foreachBatch sink that records each batch's
    * non-empty output, as (poseId, n, complete, startTs, endTs, sorted
    * paths), under its batch id.
    */
  private def record(groups: Dataset[Sessionize.PoseGroup],
      out: mutable.Map[Long, Seq[Group]],
      checkpoint: Option[String] = None) = {
    val w = groups.writeStream.outputMode(OutputMode.Append())
    checkpoint.fold(w)(c => w.option("checkpointLocation", c))
      .foreachBatch {
        (batch: Dataset[Sessionize.PoseGroup], id: Long) =>
          val rows = batch.collect().toSeq.map(g => (g.poseId, g.n, g.complete,
            g.startTs.getTime, g.endTs.getTime, g.paths.sorted))
          if (rows.nonEmpty) out.synchronized { out(id) = rows.sortBy(_.toString) }
      }
      .start()
  }

  private def harness(in: MemoryStream[FileEvent]) =
    Sessionize.completeGroups(
      Sessionize.dedupedEvents(in.toDS(), withinSeconds = 60),
      groupSize = 5, gapSeconds = 12, setWatermark = false)

  /** A seeded capture stream, cut into micro-batches, ts in ms. Poses of
    * 3-5 slots a few seconds apart, with re-deliveries in the same batch
    * (#d), within the 60 s window or after it (#r), and late events (#l,
    * ts at or below the last watermark). Anchor events end a batch at
    * exactly a slot's first ts + 120 s, so the no-data batch it triggers
    * runs at that slot's expiry (its re-delivery #e follows, at once or
    * after one more batch), or at a pose's last ts + 72 s, so that batch
    * runs at the group's deadline (a duplicate #e follows). Every stream
    * has one anchor of each kind.
    */
  private def captureStream(seed: Int): Seq[Seq[FileEvent]] = {
    val rnd = new scala.util.Random(seed)
    def e(p: String, slot: Int, ms: Long, tag: String = "") =
      FileEvent(p, slot, s"${p}_$slot.JPG$tag", new Timestamp(ms))
    def again(x: FileEvent, ms: Long, tag: String) =
      x.copy(path = x.path + tag, ts = new Timestamp(ms))
    // (event, ends its batch)
    val timeline = mutable.ArrayBuffer[(FileEvent, Boolean)]()
    var t = 100000L
    (0 until 12).foreach { p =>
      t += 4000 + rnd.nextInt(30000)
      val slots =
        if (p < 4) 0 until (if (p == 3) 4 else 5)
        else (0 until 5).filter(_ => rnd.nextDouble() > 0.12)
      val evs = slots.map(s => e(s"p$p", s, t + s * 1500 + rnd.nextInt(900)))
      evs.foreach { x =>
        val ms = x.ts.getTime
        timeline += x -> false
        if (rnd.nextDouble() < 0.1) timeline += again(x, ms, "#d") -> false
        val r = rnd.nextDouble()
        if (r < 0.1) timeline += again(x, ms + 20000 + rnd.nextInt(30000), "#r") -> false
        else if (r < 0.25) timeline += again(x, ms + 61000 + rnd.nextInt(120000), "#r") -> false
      }
      val (first, last) = (evs.head.ts.getTime, evs.last.ts.getTime)
      if (p == 1 || p == 2 || (p > 3 && rnd.nextDouble() < 0.25)) {
        timeline += e(s"x$p", 0, first + 120000) -> true
        if (p == 2 || (p > 3 && rnd.nextBoolean()))
          timeline += e(s"y$p", 0, first + 120001) -> true
        timeline += again(evs.head, first + 120002, "#e") -> false
      }
      if (p == 3 || (p > 3 && rnd.nextDouble() < 0.25)) {
        timeline += e(s"g$p", 0, last + 72000) -> true
        timeline += again(evs.last, last + 72001, "#e") -> false
      }
    }
    timeline += e("end", 0, t + 900000) -> true
    val batches = mutable.ArrayBuffer(mutable.ArrayBuffer[FileEvent]())
    timeline.sortBy(_._1.ts.getTime).foreach { case (x, ends) =>
      batches.last += x
      if (ends || rnd.nextDouble() < 0.05)
        batches += mutable.ArrayBuffer[FileEvent]()
    }
    // late events: ts at or below the watermark the batch is checked
    // against, the max ts two batches back minus the 60 s delay
    batches.indices.drop(2).foreach { i =>
      if (batches(i - 2).nonEmpty && (i == 3 || rnd.nextDouble() < 0.3)) {
        val wm = batches.take(i - 1).flatten.map(_.ts.getTime).max - 60000
        batches(i) += again(batches(i - 2).head,
          wm - rnd.nextInt(2) * rnd.nextInt(20000), "#l")
      }
    }
    batches.filter(_.nonEmpty).map(_.toSeq).toSeq
  }

  test("one-operator dedup + groups equals the two-operator plan, batch for batch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    (1 to 3).foreach { seed =>
      val stream = captureStream(seed)
      val (in1, in2) = (MemoryStream[FileEvent], MemoryStream[FileEvent])
      val fused, twoOp = mutable.Map[Long, Seq[Group]]()
      val q1 = record(harness(in1), fused)
      // the typed filter hides the dedup from completeGroups: two
      // operators (a map would too, but its fresh attributes drop ts's
      // watermark, which an event-time timeout needs)
      val q2 = record(Sessionize.completeGroups(
        Sessionize.dedupedEvents(in2.toDS(), withinSeconds = 60)
          .filter((_: FileEvent) => true),
        groupSize = 5, gapSeconds = 12, setWatermark = false), twoOp)
      try stream.foreach { b =>
        in1.addData(b); in2.addData(b)
        q1.processAllAvailable(); q2.processAllAvailable()
      } finally { q1.stop(); q2.stop() }
      assert(q1.lastProgress.stateOperators.length == 1)
      assert(q2.lastProgress.stateOperators.length == 2)
      assert(fused == twoOp, s"seed $seed")
      // partial flushes, and slots taken again right after their expiry
      // (evicted by a timeout in the no-data batch the anchor triggers)
      val all = fused.values.flatten.toSeq
      assert(all.exists(!_._3) && all.exists(_._3), s"seed $seed: $all")
      Seq("p1_0.JPG#e", "p2_0.JPG#e").foreach(p =>
        assert(all.exists(_._6.contains(p)), s"seed $seed: $p in $all"))
    }
  }

  test("only a (poseId, slot) dedup is taken over; other inputs keep two operators") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // slots 0-3 of one pose, slot 1 re-delivered under another path
    val data = (0 until 4).map(s => ev("0", s, 100 + s)) :+
      ev("0", 1, 104).copy(path = "0_1.JPG#r")
    def run(build: Dataset[FileEvent] => Dataset[FileEvent]) = {
      val in = MemoryStream[FileEvent]
      val out = mutable.Map[Long, Seq[Group]]()
      val q = record(Sessionize.completeGroups(build(in.toDS()),
        setWatermark = false), out)
      try { in.addData(data); q.processAllAvailable() } finally q.stop()
      (q.lastProgress.stateOperators.length, out.values.flatten.toSeq)
    }
    val bySlot = (ds: Dataset[FileEvent]) =>
      Sessionize.dedupedEvents(ds, withinSeconds = 60)
    // the re-delivery is dropped: four slots, the group stays open
    assert(run(bySlot) == ((1, Seq.empty)))
    assert(run(bySlot.andThen(_.filter((_: FileEvent) => true))) ==
      ((2, Seq.empty)))
    // a dedup on (poseId, path) keeps the re-delivery: five events
    val byPath = (ds: Dataset[FileEvent]) =>
      ds.withWatermark("ts", "60 seconds")
        .dropDuplicatesWithinWatermark("poseId", "path").as[FileEvent]
    val (ops, groups) = run(byPath)
    assert(ops == 2)
    assert(groups.map(g => (g._2, g._3, g._6)) ==
      Seq((5, true, data.map(_.path).sorted)))
  }

  test("the one-operator capture query resumes from its checkpoint") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val stream = captureStream(5)
    val whole = mutable.Map[Long, Seq[Group]]()
    val in1 = MemoryStream[FileEvent]
    val q1 = record(harness(in1), whole)
    try stream.foreach { b => in1.addData(b); q1.processAllAvailable() }
    finally q1.stop()

    val ckpt = java.nio.file.Files.createTempDirectory("graft-capture-ckpt")
      .toString
    val resumed = mutable.Map[Long, Seq[Group]]()
    val in2 = MemoryStream[FileEvent]
    val (before, after) = stream.splitAt(stream.length / 2)
    val q2 = record(harness(in2), resumed, Some(ckpt))
    try before.foreach { b => in2.addData(b); q2.processAllAvailable() }
    finally q2.stop()
    // open groups and seen slots are in the state the restart must read
    assert(q2.lastProgress.stateOperators.head.numRowsTotal > 0)
    val q3 = record(harness(in2), resumed, Some(ckpt))
    try after.foreach { b => in2.addData(b); q3.processAllAvailable() }
    finally q3.stop()
    assert(resumed.values.flatten.toSeq.sortBy(_.toString) ==
      whole.values.flatten.toSeq.sortBy(_.toString))
  }

  test("sessionGaps (batch form) splits on gaps over the threshold") {
    import spark.implicits._
    val df = Seq(
      ("u1", new Timestamp(1000L)), ("u1", new Timestamp(5000L)),
      ("u1", new Timestamp(60000L)), // 55s gap -> new session
      ("u2", new Timestamp(2000L))
    ).toDF("user", "ts")
    val sessions = Sessionize.sessionGaps(df, "ts", 12, Seq("user"))
      .orderBy("user", "start_ts").collect()
    assert(sessions.length == 3)
    assert(sessions(0).getAs[Long]("n") == 2) // u1 first session
    assert(sessions(1).getAs[Long]("n") == 1) // u1 second session
    assert(sessions(2).getAs[Long]("n") == 1) // u2
  }
}
