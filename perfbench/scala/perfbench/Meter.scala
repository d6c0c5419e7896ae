package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Engine-side counters from one SparkListener.
  *
  * Jobs are timed as seen on the listener thread, in System.nanoTime. Task
  * metrics are only kept while `tasks` is set, i.e. in the traced loop.
  * Each job carries the `perfbench.span` local property of the span that
  * submitted it (a streaming query's micro-batches inherit the span that
  * started the query), and the output table of the SQL execution it
  * belongs to, so counts can be charged to spans and pipeline stages.
  */
final class EngineMeter extends SparkListener {
  import EngineMeter._

  val jobs = new ConcurrentLinkedQueue[Job]()
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val execTarget = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  @volatile var tasks = false
  val taskEnds = new ConcurrentLinkedQueue[Task]()
  @volatile var stages = 0L
  @volatile var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty("perfbench.span"))).getOrElse("")
    val details = e.stageInfos.headOption.map(_.details).getOrElse("")
    val target = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(execTarget.get(id.toLong))).getOrElse("")
    val j = Job(e.jobId, span, details, target, System.nanoTime(), -1L)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    byId.put(e.jobId, j)
    jobs.add(j)
    events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(byId.get(e.jobId)).foreach(_.end = System.nanoTime())
    events += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages += 1
    events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events += 1
    if (!tasks || e.taskMetrics == null) return
    val m = e.taskMetrics
    val i = e.taskInfo
    val sched = math.max(0L, i.duration - m.executorRunTime -
      m.executorDeserializeTime - m.resultSerializationTime -
      (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
    taskEnds.add(Task(e.stageId,
      Option(stageJob.get(e.stageId)).map(_.intValue).getOrElse(-1),
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, sched,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled, m.peakExecutionMemory))
  }

  /** Output table of a SQL execution that writes pipeline state, so the
    * jobs of a Runner stage write can be told apart by what they write.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      EngineMeter.WriteTarget.findFirstMatchIn(s.physicalPlanDescription)
        .foreach(m => execTarget.put(s.executionId, m.group(1)))
    case _ => ()
  }

  /** The listener bus is asynchronous: wait until no event arrived for
    * 200 ms (bounded at 5 s) before reading. Never inside a timed op.
    */
  def drain(): Unit = {
    var last = -1L
    var stable = 0
    var i = 0
    while (stable < 4 && i < 100) {
      val cur = events
      if (cur == last) stable += 1 else { stable = 0; last = cur }
      Thread.sleep(50)
      i += 1
    }
  }

  def reset(): Unit = { jobs.clear(); taskEnds.clear(); stages = 0L }

  def finishedJobs: Seq[Job] = jobs.asScala.filter(_.end > 0).toSeq
}

object EngineMeter {
  final case class Job(id: Int, span: String, details: String,
      target: String, start: Long, var end: Long)
  final case class Task(stage: Int, job: Int, runMs: Long, cpuNs: Long,
      gcMs: Long, schedMs: Long, shufW: Long, shufR: Long, spillDisk: Long,
      peakMem: Long)

  /** A table written under the harness's per-pass state dirs: the path
    * argument of the InsertIntoHadoopFsRelationCommand node (scans print
    * their paths as Location, not Arguments).
    */
  val WriteTarget =
    "Arguments: file:[^,\\n]*/state/[0-9]+/([A-Za-z0-9_]+)\\.parquet".r
}

/** Compilation counters from Spark's public CodegenMetrics histograms.
  * The count is exact; the time is count x the reservoir's mean, which is
  * close but not exact once more than the reservoir's 1,028 samples exist.
  */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  def snapshot(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
  def delta(before: (Long, Double)): (Long, Double) = {
    val (n, mean) = snapshot()
    val dn = n - before._1
    (dn, dn * mean / 1000.0)
  }
}

/** Spans around the benchmark's calls into each layer: name, start, end,
  * parent and run id, kept in memory and written out at the end. A
  * disabled tracer runs the body and records nothing.
  */
final class Tracer(val enabled: Boolean, runId: String,
    sc: => org.apache.spark.SparkContext) {
  import Tracer.Span
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]

  def apply[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(spans.size, name, stack.headOption.getOrElse(-1),
      System.nanoTime(), -1L)
    spans += s
    stack = s.id :: stack
    val ctx = sc
    ctx.setLocalProperty("perfbench.span", s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      ctx.setLocalProperty("perfbench.span",
        stack.headOption.map(_.toString).orNull)
    }
  }

  /** Self time per span name: a span's duration minus the part of it
    * that its child spans cover (children never overlap on one thread).
    */
  def selfSeconds: Map[String, (Int, Double, Double)] = {
    val childNs = mutable.Map[Int, Long]().withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.end - s.start)
    spans.groupBy(_.name).map { case (n, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map(s => s.end - s.start - childNs(s.id)).sum
      n -> ((ss.size, total / 1e9, self / 1e9))
    }
  }

  def toJava: java.util.List[java.util.Map[String, Any]] =
    spans.map { s =>
      Map[String, Any]("run" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end)
        .asJava
    }.asJava
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, start: Long,
      var end: Long)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Total length of the union of [a, b) intervals clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = curB.max(b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
