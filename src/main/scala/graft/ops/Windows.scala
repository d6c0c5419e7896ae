package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Window / sort / sessionization operators (SURVEY.md §2.5). */
object Windows {

  /** Gap detection between consecutive fixed-size groups — the reference's
    * missing-pose check (point3d_transformation.py:11-62): order events,
    * bucket into groups of `groupSize`, compare each FULL group's end time
    * with the next FULL group's start time, flag gaps over `gapSeconds`.
    *
    * Faithful to detect_missing_pose semantics: the comparison only happens
    * when both the current and the next group contain exactly `groupSize`
    * rows (point3d_transformation.py:26-46), so a partial trailing group is
    * never gap-checked.
    *
    * Input df needs `orderCol` (unique total order) and `tsNanosCol`
    * (bigint epoch-nanos — exact integers, so no float truncation near the
    * threshold). Output: (group_id, start_ns, end_ns, next_start_ns,
    * gap_ns) for gaps only.
    *
    * Scale note: row_number over a global order funnels rows through one
    * window task. Faithful at reference scale (one camera, one global
    * order); the scale-safe equivalent is `withGlobalRowNumbers` below
    * (range-partitioned sort + per-partition offsets), proven identical in
    * the test suite.
    */
  def gapSessions(df: DataFrame, orderCol: String, tsNanosCol: String,
      groupSize: Int = 5, gapSeconds: Long = 12): DataFrame = {
    val rn = row_number().over(Window.orderBy(col(orderCol)))
    val grouped = df
      .withColumn("rn", rn)
      .withColumn("grp", expr(s"CAST((rn - 1) div $groupSize AS BIGINT)"))
      .groupBy("grp")
      .agg(
        min(col(tsNanosCol)).as("start_ns"),
        max(col(tsNanosCol)).as("end_ns"),
        count(lit(1)).as("n"))
    val w = Window.orderBy(col("grp"))
    grouped
      .withColumn("next_start_ns", lead(col("start_ns"), 1).over(w))
      .withColumn("next_n", lead(col("n"), 1).over(w))
      .withColumn("gap_ns", col("next_start_ns") - col("end_ns"))
      .filter(col("n") === groupSize && col("next_n") === groupSize &&
        col("gap_ns") > gapSeconds * 1000000000L)
      .select(col("grp").as("group_id"), col("start_ns"), col("end_ns"),
        col("next_start_ns"), col("gap_ns"))
      .orderBy("group_id")
  }

  /** Scale-safe global row numbering: sort by `orderCol` with a RANGE
    * partitioner (parallel sort), then `RDD.zipWithIndex` (one job counts
    * the rows per partition, the numbering pass offsets each partition by
    * the counts before it) — no single-task window. 0-based in `outCol`.
    *
    * The sorted RDD is persisted (MEMORY_AND_DISK_SER) so the range sort runs
    * ONCE: the count pass materializes the cache and the numbering pass
    * reads it back — without the persist both passes re-sorted every
    * partition. The cached blocks are reclaimed by Spark's ContextCleaner
    * as soon as the returned lineage is garbage-collected; the RDD is
    * `graft:`-tagged, so `Caches.releaseAll` releases it deterministically.
    *
    * The persist is CORRECTNESS-load-bearing, not a cache: RangePartitioner
    * samples its boundaries with an rdd.id-derived seed, so two plans that
    * each contain `repartitionByRange` over the same input get DIFFERENT
    * partition splits — per-partition counts collected from one plan
    * mis-align with the partitions of another, corrupting the numbering
    * (observed at sf1 as run-to-run result drift). ReuseExchange cannot be
    * relied on to unify them either: column pruning specializes each
    * branch's scan, the canonical plans differ, and the exchanges stay
    * separate. A pure-DataFrame formulation (monotonically_increasing_id
    * + per-pid count subtree) was tried and reverted for exactly this
    * reason; only a materialized single partitioning is safe.
    */
  def withGlobalRowNumbers(df: DataFrame, orderCol: String,
      outCol: String = "rn0"): DataFrame =
    withGlobalRowNumbersBy(df, Seq(orderCol), outCol)

  /** Multi-column form: the numbering is deterministic ONLY if the order
    * key is total (ties land in engine/run-dependent positions otherwise —
    * the same rule the oracled queries follow), so callers with a
    * non-unique leading column pass the unique tie-break here.
    */
  def withGlobalRowNumbersBy(df: DataFrame, orderCols: Seq[String],
      outCol: String = "rn0"): DataFrame = {
    val spark = df.sparkSession
    val oc = orderCols.map(col)
    val sorted = df.repartitionByRange(oc: _*).sortWithinPartitions(oc: _*)
    // _SER: the cached blocks live exactly as long as the two passes below
    // plus the caller's action, and deserialized Row caching is ~3-5x the
    // footprint of the kryo/java-serialized form — at a 100 TB numbering
    // the deserialized level is the difference between spill and fit
    val sortedRdd = Caches.persisted(sorted.rdd,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER,
      "global-rownum-sorted")
    val schema = StructType(sorted.schema.fields :+
      StructField(outCol, LongType, nullable = false))
    val numbered = sortedRdd.zipWithIndex()
      .map { case (r, k) => Row.fromSeq(r.toSeq :+ k) }
    spark.createDataFrame(numbered, schema)
  }

  /** gapSessions on top of the scale-safe numbering — identical output to
    * the window-based form (asserted in the test suite), no global-window
    * single task ANYWHERE in the plan: the lead() that the faithful form
    * uses to pair each group with its successor is replaced by a
    * `grp = grp + 1` self-join (group ids are dense by construction —
    * rn0 div groupSize — so "next group" IS grp+1), which shuffles on grp
    * instead of funnelling every group row through one ordered-window
    * task. The filter requires the successor to be a FULL group, so the
    * inner join dropping the last (successor-less) group is exactly the
    * lead-is-null case the faithful form filters out.
    *
    * Deliberate tradeoff: both join sides re-run the groupBy from the
    * PERSISTED sorted RDD (withGlobalRowNumbers caches it), so the scan
    * and range sort — the costs that matter at 100 TB — are paid once;
    * the duplicated work is one extra map-side-partial aggregation pass
    * over in-memory blocks yielding n/groupSize rows. Persisting the
    * tiny `grouped` DF instead would pin an entry in the session
    * CacheManager with no safe release point for a library function.
    */
  def gapSessionsScalable(df: DataFrame, orderCol: String, tsNanosCol: String,
      groupSize: Int = 5, gapSeconds: Long = 12): DataFrame = {
    // number ONLY the two needed columns: the per-row boxing + persist in
    // the numbering scales with row width, and the events row drags a
    // JSON props string through it otherwise (sf3: w2 6.4s -> 2.9s)
    // distinct: orderCol == tsNanosCol is legal (ordering by the event
    // time itself) and a duplicate-name projection would make every
    // downstream col(tsNanosCol) ambiguous
    val needed = Seq(orderCol, tsNanosCol).distinct.map(col)
    val numbered = withGlobalRowNumbers(df.select(needed: _*), orderCol)
    val grouped = numbered
      .withColumn("grp", expr(s"CAST(rn0 div $groupSize AS BIGINT)"))
      .groupBy("grp")
      .agg(
        min(col(tsNanosCol)).as("start_ns"),
        max(col(tsNanosCol)).as("end_ns"),
        count(lit(1)).as("n"))
    val next = grouped.select((col("grp") - 1).as("grp"),
      col("start_ns").as("next_start_ns"), col("n").as("next_n"))
    grouped.join(next, Seq("grp"))
      .withColumn("gap_ns", col("next_start_ns") - col("end_ns"))
      .filter(col("n") === groupSize && col("next_n") === groupSize &&
        col("gap_ns") > gapSeconds * 1000000000L)
      .select(col("grp").as("group_id"), col("start_ns"), col("end_ns"),
        col("next_start_ns"), col("gap_ns"))
      .orderBy("group_id")
  }
}
