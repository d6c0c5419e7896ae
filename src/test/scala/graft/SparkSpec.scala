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
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(dir: String): String = s"/root/testdata/$dir"
}
