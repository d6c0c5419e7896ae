package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregation operators (SURVEY.md §2.4).
  *
  * Re-expresses the reference's statistics passes: grand reprojection
  * stats (extrinsic_calibration.py:216-226), two-level per-pose→global
  * means (extrinsic_calibration.py:212-214), per-image calibration error
  * (camera_calib.py:104-113), sorted group-collect (handlehdrgen.py:14-20),
  * per-axis ranges (calculate.py:36-52).
  *
  * All are built-in hash/sort aggregates — partial (map-side) aggregation
  * and AQE sizing are free, which is exactly the 100-TB shape.
  */
object Aggs {

  /** Grand stats over an error column: mean/std(pop)/max/min/median/RMSE
    * (extrinsic_calibration.py:216-226). numpy std is ddof=0 → stddev_pop.
    * Aggregate-derived floats rounded to `r` for oracle hash-match.
    *
    * Scale note: exact `median` buffers every value of the group in one
    * aggregation buffer (Spark's Median is a collect-then-sort
    * TypedImperativeAggregate) — faithful to numpy and required for the
    * DuckDB hash-match, but a single-reducer memory funnel at 100 TB.
    */
  def grandStats(err: Column, r: Int = 6): Seq[Column] =
    Seq(
      round(avg(err), r).as("mean_err"),
      round(stddev_pop(err), r).as("std_err"),
      max(err).as("max_err"),
      min(err).as("min_err"),
      round(median(err), r).as("median_err"),
      round(sqrt(avg(err * err)), r).as("rmse"))

  /** Two-level aggregation: per-group mean, then global stats over the
    * group means (extrinsic_calibration.py:212-214). Spark's partial
    * aggregation makes the inner level map-side; the outer level sees one
    * row per group.
    */
  def twoLevelMean(df: DataFrame, groupCol: String, valCol: String, r: Int = 6)
      : DataFrame =
    df.groupBy(groupCol)
      .agg(avg(valCol).as("group_mean"))
      .agg(
        round(avg("group_mean"), r).as("mean_of_means"),
        round(stddev_pop(col("group_mean")), r).as("std_of_means"),
        count(lit(1)).as("n_groups"))

  /** Deterministic group-collect: sorted list serialized to a string
    * (handlehdrgen.py:14-20; sort for determinism per SURVEY §2.4 A5).
    */
  def sortedCollect(df: DataFrame, groupCol: String, valCol: String)
      : DataFrame =
    df.groupBy(groupCol)
      .agg(array_join(
        sort_array(collect_list(col(valCol).cast("string"))), ",")
        .as("collected"))

  /** A6 at 100 TB: exact count + approx_count_distinct (HLL++, rsd
    * relative error) — exact countDistinct is a full shuffle of the
    * distinct values; the sketch is a fixed-size map-side accumulator.
    * Not oracle-checked (approximation is engine-specific); tolerance is
    * pinned in the test suite.
    */
  def approxCounts(df: DataFrame, cols: Seq[String], rsd: Double = 0.02)
      : DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      cols.map(c => approx_count_distinct(col(c), rsd).as(s"approx_$c")): _*)

  /** Per-axis min/max/mean (calculate.py:36-52): one output row per named
    * axis column, unioned. Rounded to `r`.
    */
  def axisStats(df: DataFrame, axes: Seq[(String, String)], r: Int = 6)
      : DataFrame =
    axes.map { case (name, c) =>
      df.agg(
        round(min(col(c)), r).as("mn"),
        round(max(col(c)), r).as("mx"),
        round(avg(col(c)), r).as("mean"))
        .select(lit(name).as("axis"), col("mn"), col("mx"), col("mean"))
    }.reduce(_ unionByName _)
}
