package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode,
  StreamingQuery, Trigger}
import graft.ops.Memo
import graft.streaming.Sessionize

/** Streaming throughput record (dev tooling, like Bench): drive the
  * §2.10 ingestion pipeline — a REAL binaryFile directory stream →
  * streaming dedup → count-based group assembly — over a synthetic
  * corpus of many small files, and print one JSON line with files/s,
  * rows/s, and state-store size.
  *
  * Why a real directory source and not MemoryStream: the known scale
  * cost of file-based streaming is the SOURCE side (every microbatch
  * re-lists the directory, O(total files) per trigger), which a
  * MemoryStream harness cannot see. The pipeline under test is exactly
  * StreamingSpec's end-to-end wiring at ~10,000x its file count.
  *
  * SPARK_GRAFT_STREAM_SOURCE=memory runs the SAME stateful pipeline fed
  * from a MemoryStream instead (same event shape, same batch size, one
  * microbatch per chunk): the committed pair of records separates the
  * listing-bound source ceiling (files/s) from the operator ceiling
  * (rows/s through dedup + group assembly) with numbers instead of
  * prose — the file-source figure is NOT the state machinery's limit.
  *
  * Usage:
  *   SPARK_GRAFT_STREAM_FILES=100000 SPARK_GRAFT_STREAM_BATCH=5000 \
  *     sbt -batch "runMain graft.StreamBench"
  */
object StreamBench {

  /** Accumulate input rows / batch count across the WHOLE run via the
    * listener bus: `q.recentProgress` retains only the last ~100 updates
    * (spark.sql.streaming.numRecentProgressUpdates), so a small-batch
    * sweep (nFiles/perTrigger > ~100 microbatches, plus the no-data
    * batches each chunk can trigger) would silently undercount
    * input_rows and misstate batches if summed from recentProgress.
    */
  private final class ProgressTally
      extends org.apache.spark.sql.streaming.StreamingQueryListener {
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    override def onQueryStarted(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
      rows.addAndGet(e.progress.numInputRows)
      batches.incrementAndGet()
      ()
    }
    override def onQueryTerminated(
        e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** The listener bus is async; wait until the tally stops moving (or a
    * bounded dwell) before reading it. Dev tooling, never a timed
    * section.
    */
  private def drain(t: ProgressTally): Unit = {
    var last = -1L
    var same = 0
    var i = 0
    while (same < 4 && i < 40) { // 4 stable 100 ms polls, max 4 s
      val cur = t.rows.get() + t.batches.get()
      if (cur == last) same += 1 else { same = 0; last = cur }
      Thread.sleep(100)
      i += 1
    }
  }

  /** Corpus: nFiles tiny files named p{pose}_{slot}.JPG, 5 slots per
    * pose — the reference's camera-drop layout at 20,000 poses.
    */
  private def ensureCorpus(dir: String, nFiles: Int): Unit = {
    val d = new java.io.File(dir)
    val existing = Option(d.list()).map(_.length).getOrElse(0)
    if (existing != nFiles) {
      Memo.rmTree(d)
      d.mkdirs()
      var i = 0
      while (i < nFiles) {
        val pose = i / 5
        val slot = i % 5
        java.nio.file.Files.write(
          d.toPath.resolve(f"p$pose%06d_$slot.JPG"),
          Array[Byte]('j', 'p', 'g'))
        i += 1
      }
      System.err.println(s"[stream-bench] wrote $nFiles files to $dir")
    }
  }

  private val Dir = "scratch/streambench_src"

  def main(args: Array[String]): Unit = {
    val nFiles = sys.env.getOrElse("SPARK_GRAFT_STREAM_FILES", "100000").toInt
    val perTrigger = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCH", "5000").toInt
    val cpus = Bench.envCpus
    sys.env.getOrElse("SPARK_GRAFT_STREAM_SOURCE", "files") match {
      case "memory"   => runMemory(nFiles, perTrigger, cpus)
      case "manifest" => runManifest(nFiles, perTrigger, cpus)
      case _          => runFiles(nFiles, perTrigger, cpus)
    }
  }

  private def runFiles(nFiles: Int, perTrigger: Int, cpus: Int): Unit = {
    ensureCorpus(Dir, nFiles)
    // the corpus holds no parquet, so the session takes the tiny shape
    val spark = Bench.session(Dir, cpus)
    val files = spark.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .option("maxFilesPerTrigger", perTrigger)
      .load(Dir)
    runAndReport(
      pathEvents(files.select(col("path"), col("modificationTime").as("ts"))),
      "stream_sessionize", "files", nFiles, Seq.empty,
      "scratch/streambench.json")(untilDone)
  }

  /** The manifest side-channel variant: the corpus directory is listed
    * ONCE, and the stream reads a FILE OF PATHS (one manifest file per
    * trigger) instead of re-listing the whole directory every
    * microbatch. This is the production ingest shape for object stores —
    * S3 inventory lists / bucket notifications feed paths, the stream
    * never lists — and it removes the O(total files)-per-trigger source
    * cost that bounds the plain file-source record. Same stateful
    * pipeline (dedup → group assembly), same batch shape (perTrigger
    * events per microbatch), so files/s here is directly comparable to
    * the binaryFile record and the MemoryStream operator ceiling.
    */
  private def runManifest(nFiles: Int, perTrigger: Int, cpus: Int): Unit = {
    ensureCorpus(Dir, nFiles)
    // the side-channel: one directory listing, chunked into
    // nFiles/perTrigger manifest files of "path\tmtimeMillis" lines —
    // its cost is reported separately (a real notification feed pays it
    // incrementally, never as a scan)
    val mDir = new java.io.File(Dir + "_manifest")
    Memo.rmTree(mDir); mDir.mkdirs()
    val tM0 = System.nanoTime()
    val all = new java.io.File(Dir).listFiles().sortBy(_.getName)
    all.grouped(perTrigger).zipWithIndex.foreach { case (chunk, i) =>
      val body = chunk.map(f => s"${f.getAbsolutePath}\t${f.lastModified}")
        .mkString("", "\n", "\n")
      java.nio.file.Files.write(
        mDir.toPath.resolve(f"manifest-$i%05d.txt"),
        body.getBytes("UTF-8"))
    }
    val manifestSec = (System.nanoTime() - tM0) / 1e9

    val spark = Bench.session(mDir.getPath, cpus)
    // one manifest FILE per trigger = perTrigger events per microbatch,
    // the same batch shape as the binaryFile run's maxFilesPerTrigger
    val lines = spark.readStream.format("text")
      .option("maxFilesPerTrigger", 1)
      .load(mDir.getAbsolutePath)
    val fields = split(col("value"), "\t")
    runAndReport(pathEvents(lines.select(fields.getItem(0).as("path"),
        timestamp_millis(fields.getItem(1).cast("long")).as("ts"))),
      "stream_sessionize_manifest", "files", nFiles,
      Seq("manifest_build_sec" -> num(manifestSec)),
      "scratch/streambench_manifest.json")(untilDone)
  }

  /** The operator-ceiling twin: identical pipeline + event shape + batch
    * size, fed from a MemoryStream (no directory listing, no file IO).
    * Event times spread ~0.1 ms apart like the file corpus's write-loop
    * mtimes, so the watermark/state lifecycle matches the file run.
    */
  private def runMemory(nFiles: Int, perTrigger: Int, cpus: Int): Unit = {
    // no input dir: size the session from a fresh (empty) temp dir
    val spark = Bench.session(java.nio.file.Files
      .createTempDirectory("graft-streambench-mem").toString, cpus)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val base = 1700000000000L // fixed epoch-ms so runs are reproducible
    val chunks = (0 until nFiles).map { i =>
      Sessionize.FileEvent(
        f"p${i / 5}%06d", i % 5, f"mem://p${i / 5}%06d_${i % 5}.JPG",
        new java.sql.Timestamp(base + i / 10))
    }.grouped(perTrigger).toSeq // materialized BEFORE the timed loop

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Sessionize.FileEvent]
    runAndReport(input.toDS(),
      "stream_sessionize_memsource", "rows", nFiles,
      Seq("chunks" -> chunks.length.toString),
      "scratch/streambench_mem.json") { w =>
      val q = w.start()
      val t0 = System.nanoTime()
      chunks.foreach { c => input.addData(c); q.processAllAvailable() }
      val wall = (System.nanoTime() - t0) / 1e9
      q.stop()
      (q, wall)
    }
  }

  /** Start on the AvailableNow trigger and wait for the end of the input;
    * the wall clock includes the query start.
    */
  private def untilDone(w: DataStreamWriter[Row]): (StreamingQuery, Double) = {
    val t0 = System.nanoTime()
    val q = w.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    (q, (System.nanoTime() - t0) / 1e9)
  }

  private def num(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))

  /** FileEvents from (path, ts) rows: pose id and slot parsed from the
    * p{pose}_{slot}.JPG name.
    */
  private def pathEvents(pathTs: DataFrame): Dataset[Sessionize.FileEvent] = {
    val spark = pathTs.sparkSession
    import spark.implicits._
    val name = "([^/]+)_([0-9]+)\\.JPG$"
    pathTs.select(
        regexp_extract(col("path"), name, 1).as("poseId"),
        regexp_extract(col("path"), name, 2).cast("int").as("slot"),
        col("path"), col("ts"))
      .as[Sessionize.FileEvent]
  }

  /** The run-and-report body every source shares: `events` → the
    * stateful pipeline (dedup → group assembly) → a memory sink; `run`
    * starts the query and drives it to the end of its input, returning
    * it and the wall seconds. Then one JSON line:
    * `metric`, `n` under `unit`, batches/input_rows from the listener
    * tally, the source's `extra` fields, wall_sec, `unit`_per_sec,
    * groups_emitted, and the end-of-run state-store totals. The line is
    * printed and written to `out`.
    */
  private def runAndReport(events: Dataset[Sessionize.FileEvent],
      metric: String, unit: String, n: Int, extra: Seq[(String, String)],
      out: String)(
      run: DataStreamWriter[Row] => (StreamingQuery, Double)): Unit = {
    val spark = events.sparkSession
    val groups = Sessionize.completeGroups(
      Sessionize.dedupedEvents(events, withinSeconds = 60),
      groupSize = 5, gapSeconds = 12, setWatermark = false)

    val tally = new ProgressTally
    spark.streams.addListener(tally)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-streambench-ckpt").toString
    val (q, wall) = run(groups.toDF().writeStream
      .format("memory").queryName("sb")
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", ckpt))

    val nGroups = spark.table("sb").count()
    drain(tally)
    // state operators of the LAST progress carry end-of-run totals (the
    // last update always survives recentProgress's retention window)
    val stateOps = q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators.toSeq).getOrElse(Seq.empty)
    Json.emit("stream-bench", Json.obj(Seq("metric" -> Json.str(metric),
        unit -> n.toString, "batches" -> tally.batches.get().toString,
        "input_rows" -> tally.rows.get().toString) ++ extra ++ Seq(
      "wall_sec" -> num(wall), s"${unit}_per_sec" -> num(n / wall),
      "groups_emitted" -> nGroups.toString,
      "state_rows" -> stateOps.map(_.numRowsTotal).sum.toString,
      "state_bytes" -> stateOps.map(_.memoryUsedBytes).sum.toString)), out)
    spark.stop()
  }
}
