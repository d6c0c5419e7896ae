package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator is declared here as a named query (Spark fn)
  * plus a DuckDB oracle over the same parquet tables. The driver hash-compares the two at sf0.01.
  */
object SparkEntry {

  /** All declared query families (SURVEY.md §2 coverage). */
  def allDefs: Seq[QueryDef] =
    CoreQueries.defs ++
    AggQueries.defs ++
    WindowQueries.defs ++
    GeoQueries.defs ++
    TextQueries.defs ++
    SimQueries.defs ++
    PixelQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The positional join is the reference's subtlest relational shape
    * (point3d_transformation.py:148-156).
    */
  def entry(spark: SparkSession): DataFrame =
    queries("j4_positional_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    allDefs.map(q => q.name -> q.oracle).toMap
}
