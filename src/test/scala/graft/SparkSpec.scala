package graft

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
}
