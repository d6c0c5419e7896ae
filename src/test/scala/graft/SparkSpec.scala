package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, reused lazily): the one
  * Bench.session, sized from the fixtures dir, a tiny corpus.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    // static conf, so it goes in before the session exists: a fresh
    // warehouse per JVM keeps PlanSpec's managed tables from colliding
    // with a previous run's files
    sys.props("spark.sql.warehouse.dir") =
      java.nio.file.Files.createTempDirectory("graft-wh").toString
    val s = Bench.session("src/test/resources/fixtures", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body` compiled (whole-stage and expression codegen, no
    * fallback to interpreted on a compile error) or fully interpreted,
    * with `extra` confs set too; every conf is restored after.
    */
  def withCodegen[T](codegen: Boolean, extra: (String, String)*)(body: => T): T = {
    val confs = Seq(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.fallback" -> (!codegen).toString,
      "spark.sql.codegen.factoryMode" ->
        (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")) ++ extra
    val saved = confs.map { case (c, _) => c -> spark.conf.getOption(c) }
    confs.foreach { case (c, v) => spark.conf.set(c, v) }
    try body finally saved.foreach {
      case (c, Some(v)) => spark.conf.set(c, v)
      case (c, None) => spark.conf.unset(c)
    }
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(dir: String): String = s"/root/testdata/$dir"

  /** Run `body`, returning its value and the call-site frames of every
    * Spark job it started, one Seq of stack lines per job (its stages'
    * lines in stage order).
    */
  def withJobFrames[A](body: => A): (A, Seq[Seq[String]]) = {
    val jobs = new ConcurrentLinkedQueue[(String, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tag = Option(e.properties)
          .flatMap(p => Option(p.getProperty("graft.test.phase"))).getOrElse("")
        jobs.add((tag, e.stageInfos.flatMap(_.details.split("\n").map(_.trim))))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.phase", "body")
      val a = body
      // the listener bus is asynchronous but ordered: once this job's
      // start has arrived, every job of the body has too
      sc.setLocalProperty("graft.test.phase", "sentinel")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!jobs.asScala.exists(_._1 == "sentinel") &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.asScala.exists(_._1 == "sentinel"),
        "listener never saw the sentinel job")
      (a, jobs.asScala.toSeq.filter(_._1 == "body").map(_._2))
    } finally {
      sc.setLocalProperty("graft.test.phase", null)
      sc.removeSparkListener(listener)
    }
  }
}
