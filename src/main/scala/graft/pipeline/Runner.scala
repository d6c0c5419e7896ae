package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Staged pipeline runner replicating data_pipeline.main's memoization
  * (data_pipeline.py:15-56): each stage materializes one parquet table;
  * a stage whose output already exists is skipped — the None-guard chain
  * (`if camera_matrix is None: ...`) re-expressed as
  * materialized-view-existence checks. Parquet's atomic commit gives the
  * save-on-interrupt durability (data_pipeline.py:62-72) for free: a
  * killed stage leaves no _SUCCESS, so it reruns next time.
  */
final class Runner(spark: SparkSession, stateDir: String) {

  private def outPath(name: String) = s"$stateDir/$name.parquet"

  private def exists(name: String): Boolean =
    Files.exists(Paths.get(outPath(name), "_SUCCESS"))

  /** Run `build` unless `name` is already materialized; return the
    * stage's output table either way.
    */
  def stage(name: String)(build: => DataFrame): DataFrame = {
    if (!exists(name)) {
      build.write.mode("overwrite").parquet(outPath(name))
    }
    spark.read.parquet(outPath(name))
  }

  /** Force a stage to recompute next run. */
  def invalidate(name: String): Unit = {
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rm)
      p.delete(); ()
    }
    val f = new java.io.File(outPath(name))
    if (f.exists) rm(f)
  }
}
