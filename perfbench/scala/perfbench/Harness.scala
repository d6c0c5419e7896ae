package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: builds the session the way Bench sizes it,
  * runs one workload over inputs that run.py generated, and writes one
  * JSON record. It calls the program only through public functions.
  *
  *   java ... perfbench.Harness <workload> <seed> <seconds> <trace 0|1>
  *     <input dir> <run dir> <record path>
  */
object Harness {
  val Cpus = 4
  val SetupReps = 3

  final case class Ctx(workload: String, seed: Long, seconds: Double,
      trace: Boolean, input: String, runDir: String) {
    def dir(name: String): String = {
      val f = new File(runDir, name); f.mkdirs(); f.getAbsolutePath
    }
  }

  /** Bench's session: same sizing helpers, tiny-corpus switch, UTC,
    * nanosAsLong and lz4; every path it writes points into the run dir.
    */
  def buildSession(ctx: Ctx, sizingDir: String): SparkSession = {
    val tiny = graft.Bench.corpusBytes(sizingDir) < (64L << 20)
    val shuffle =
      if (tiny) 4 else graft.Bench.sizedShufflePartitions(sizingDir, Cpus)
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", shuffle.toString)
      .config("spark.sql.adaptive.enabled", (!tiny).toString)
      .config("spark.network.timeout", "600s")
      .config("spark.sql.files.maxPartitionBytes",
        graft.Bench.sizedMaxPartitionBytes(sizingDir, Cpus).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.io.compression.codec", "lz4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.dir("spark-local"))
      .config("spark.sql.warehouse.dir", ctx.dir("warehouse"))
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Session build plus Bench's warmups, until the session is ready. */
  def setup(ctx: Ctx, sizingDir: String): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val samples = (1 to SetupReps).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = buildSession(ctx, sizingDir)
      spark.range(1000).selectExpr("sum(id)").collect()
      graft.Bench.machineryWarmup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    (spark, samples)
  }

  /** Fixed CPU loop plus a fixed spark.range job: a slow host shows in
    * the record. Diagnostic only, never gated.
    */
  def hostProbe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    spark.range(0, 4000000, 1, Cpus).selectExpr("sum(id % 7 + " + (x & 1) + ")")
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def dirMb(path: String): Double = {
    def sz(f: File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).map(_.map(sz).sum).getOrElse(0L)
    sz(new File(path)) / 1e6
  }

  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  val phases = new java.util.LinkedHashMap[String, Any]()
  def phase(name: String): Unit =
    phases.put(name, (System.currentTimeMillis() - jvmStart) / 1e3)

  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, input, runDir, out) = argv
    val ctx = Ctx(workload, seed.toLong, seconds.toDouble, trace == "1",
      input, runDir)
    val sizingDir = workload match {
      case "query_sweep" => s"$input/corpus"
      case other => s"$input/$other"
    }
    phase("main")
    val (spark, setupSamples) = setup(ctx, sizingDir)
    phase("setup")
    val rec = new Record
    rec("workload") = workload
    rec("seed") = ctx.seed
    rec("trace") = ctx.trace
    rec("setup_s_samples") = setupSamples.asJava
    rec("conf") = spark.conf.getAll.toSeq.sortBy(_._1).toMap.asJava
    val probeStart = hostProbe(spark)
    val meter = new EngineMeter
    spark.sparkContext.addSparkListener(meter)
    val w: Workload = workload match {
      case "query_sweep"       => new QuerySweep(spark, ctx, meter)
      case "capture_calibrate" => new CaptureCalibrate(spark, ctx, meter)
      case other => sys.error(s"unknown workload $other")
    }
    phase("workload_init")
    w.run(rec)
    phase("workload")
    rec("host_probe_s") = Map("start" -> probeStart,
      "end" -> hostProbe(spark)).asJava
    rec("setup_s") = Stats.median(setupSamples)
    rec("peak_rss_mb") = peakRssMb()
    phase("probe")
    rec("phases") = phases
    rec.write(out)
    spark.stop()
  }
}

object Workload {
  /** Result of one timed loop: the headline seconds, op latencies, and
    * the wall intervals (ns) of the timed units of work.
    */
  final case class Loop(passS: Double, opsS: Seq[Double],
      work: Seq[(Long, Long)], wallS: Double, extra: Map[String, Double])
}

/** Insertion-ordered JSON object written with Spark's bundled Jackson. */
final class Record {
  val m = new java.util.LinkedHashMap[String, Any]()
  def update(k: String, v: Any): Unit = m.put(k, v)
  def write(path: String): Unit = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    om.writerWithDefaultPrettyPrinter().writeValue(new File(path), m)
  }
}

/** One workload: cold one-offs and a check pass (untimed for ops), then
  * timed ops for the run's seconds, then, in a traced run, the same
  * timed loop again with spans and task metrics on.
  */
abstract class Workload(spark: SparkSession, ctx: Harness.Ctx,
    meter: EngineMeter) {
  import Workload.Loop
  val tracer = new Tracer(false, s"${ctx.workload}-${ctx.seed}",
    spark.sparkContext)
  val checks = new java.util.ArrayList[java.util.Map[String, Any]]()
  var attempted = 0
  var failed = 0

  def check(name: String, ok: Boolean, detail: String): Unit = {
    checks.add(Map[String, Any]("name" -> name, "ok" -> ok,
      "detail" -> detail).asJava)
    attempted += 1
    if (!ok) failed += 1
  }

  /** Times one op; an exception counts as a failed op, never as a time. */
  def timed(body: => Unit): Option[Double] = {
    attempted += 1
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] op failed: $e")
        None
    }
  }

  def timedLoop(tracer: Tracer): Loop

  def prepare(rec: Record): Unit
  def moduleLayers(tracer: Tracer, loop: Loop): Map[String, Double]

  def run(rec: Record): Unit = {
    prepare(rec)
    Harness.phase("prepare")
    val loop = timedLoop(tracer)
    Harness.phase("timed")
    rec("pass_s") = loop.passS
    rec("op_s") = loop.opsS.asJava
    rec("details") = loop.extra.asJava
    if (ctx.trace) {
      meter.drain(); meter.reset(); meter.tasks = true
      val cg = Codegen.snapshot()
      val traced = new Tracer(true, s"${ctx.workload}-${ctx.seed}",
        spark.sparkContext)
      val tl = timedLoop(traced)
      meter.drain()
      val (compiles, codegenS) = Codegen.delta(cg)
      rec("layers") = (engineLayers(tl) ++ Map(
        "spark.codegen_compiles" -> compiles.toDouble,
        "spark.codegen_s" -> codegenS)).asJava
      rec("module_layers") = moduleLayers(traced, tl).asJava
      rec("span_counts") = spanCounts(traced)
      rec("spans") = traced.toJava
      meter.tasks = false
      // the untraced reference runs after the traced loop, so it is the
      // warmer one and the overhead reads high rather than low
      val ref = timedLoop(tracer).passS
      rec("trace_overhead") = Map("pass_s_untraced" -> ref,
        "pass_s_traced" -> tl.passS,
        "overhead_pct" -> 100.0 * (tl.passS / ref - 1)).asJava
    }
    rec("checks") = checks
    rec("attempted") = attempted
    rec("failed") = failed
  }

  /** Jobs and task seconds per span name, charged to the span that
    * submitted each job.
    */
  def spanCounts(tr: Tracer): java.util.Map[String, Any] = {
    val jobs = meter.finishedJobs.filter(_.span.nonEmpty)
    val spanOf = jobs.map(j => j.id -> tr.spans(j.span.toInt).name).toMap
    val taskS = meter.taskEnds.asScala.toSeq.groupBy(t => spanOf.get(t.job))
      .map { case (n, ts) => n -> ts.map(_.runMs).sum / 1e3 }
    jobs.groupBy(j => spanOf(j.id)).map { case (n, js) =>
      n -> Map("jobs" -> js.size,
        "task_s" -> taskS.getOrElse(Some(n), 0.0)).asJava
    }.toMap[String, Any].asJava
  }

  /** Engine counters over the traced loop, charged to nothing finer. */
  def engineLayers(l: Loop): Map[String, Double] = {
    val tasks = meter.taskEnds.asScala.toSeq
    val jobs = meter.finishedJobs
    val taskS = tasks.map(_.runMs).sum / 1e3
    val byStage = tasks.groupBy(_.stage).values.filter(_.size >= 4)
    val skew = if (byStage.isEmpty) 1.0 else byStage.map { ts =>
      val med = Stats.median(ts.map(_.runMs.toDouble)).max(1.0)
      ts.map(_.runMs).max / med
    }.max
    val jobIv = jobs.map(j => (j.start, j.end))
    val engineNs = l.work.map { case (a, b) => Stats.covered(jobIv, a, b) }.sum
    val workNs = l.work.map { case (a, b) => b - a }.sum
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> meter.stages.toDouble,
      "spark.tasks" -> tasks.size.toDouble,
      "spark.task_s" -> taskS,
      "spark.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.core_busy" -> taskS / (l.wallS * Harness.Cpus),
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "spark.sched_wait_s" -> tasks.map(_.schedMs).sum / 1e3,
      "spark.shuffle_write_mb" -> tasks.map(_.shufW).sum / 1e6,
      "spark.shuffle_read_mb" -> tasks.map(_.shufR).sum / 1e6,
      "spark.spill_disk_mb" -> tasks.map(_.spillDisk).sum / 1e6,
      "spark.peak_exec_mem_mb" ->
        (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / 1e6),
      "spark.task_skew" -> skew,
      "client.engine_s" -> engineNs / 1e9,
      "client.driver_s" -> (workNs - engineNs) / 1e9)
  }
}
