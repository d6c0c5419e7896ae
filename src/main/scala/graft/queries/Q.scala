package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.ops.{Tables => T}

/** One declared engine query: Spark implementation + DuckDB oracle SQL
  * over the same parquet tables (driver contract, SparkEntry).
  *
  * Determinism rules (SURVEY.md §7.4):
  *  - every query ends with a TOTAL order: a unique key where one exists,
  *    otherwise ORDER BY every output column — (l_orderkey, l_linenumber)
  *    is NOT unique in the synthetic lineitem and supplier names repeat
  *    across scale replicas, so tied rows must be identical rows;
  *  - per-row scalar float chains are written with the exact same expression
  *    text on both sides (bit-identical IEEE evaluation) and rounded to 9;
  *  - aggregate-derived floats are rounded to 6 (partial-agg order differs
  *    from a single-threaded oracle at ~1e-11);
  *  - array outputs are serialized to strings; timestamps to epoch seconds.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: String)

/** The rows of `table` a query body reads: the whole table, or (when
  * `sliced`) only the rows whose `key % mod = 0`.
  *
  * The slices are replica-preserving: scripts/datagen.py offsets each
  * replica's doc_id/vec_id by the base key count rounded up to the
  * modulus, so a sliced documents/embeddings corpus holds EVERY replica
  * of the base rows it keeps — exact-dup clusters and cos = 1.0 ties
  * survive instead of being sampled away. The lineitem queries are
  * per-row or per-l_orderkey (x17's window partition), so their slice is
  * exactly the full output's rows on the kept keys. At tiny sf a slice
  * may hold no near-dup pair; both engines then agree on an empty result.
  */
final case class Slice(table: String, key: String, mod: Int,
    sliced: Boolean = true) {
  def whole: Slice = copy(sliced = false)

  def read(s: SparkSession, d: String): DataFrame = {
    val t = T.t(s, d, table)
    if (sliced) t.filter(col(key) % mod === 0) else t
  }

  /** `oracle` (margin-form text, as QueryDef takes it) over the same
    * rows: when sliced, a CTE named `table` shadows the table's view.
    * DuckDB rejects `WITH t AS (... FROM t)` as a circular CTE reference,
    * so the CTE reads `main.<table>`, the view check.py, baseline.py and
    * perfbench create. An oracle that already opens with WITH gets the
    * CTE spliced into the front of its list; the `|` after the CTE keeps
    * the result margin-form, so QueryDef strips it once.
    */
  def sql(oracle: String): String = {
    val q = oracle.trim
    val cte = s"$table AS (SELECT * FROM main.$table WHERE $key % $mod = 0)"
    if (!sliced) oracle
    else if (q.startsWith("WITH ")) s"WITH $cte,\n|${q.drop(5)}"
    else s"WITH $cte\n|$q"
  }
}

object Slice {
  val Lineitem = Slice("lineitem", "l_orderkey", 50)
  val Documents = Slice("documents", "doc_id", 50)
  val Embeddings = Slice("embeddings", "vec_id", 40)
}

object QueryDef {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, oracle.stripMargin.trim)

  /** A full query and its deterministic-slice twin, from ONE body and ONE
    * oracle: `name` runs them at `full`, `twinName` at `twin`.
    *
    * Why twins exist: several full oracles stop being single-node
    * tractable for DuckDB at the 100x-1000x scale points — quadratic
    * within-block pair joins (em1/em2), Lloyd iterations unrolled in SQL
    * (em3/sim3), docs x tokens x bits explosions (t7/t11), candidate pairs
    * growing with the dup factor (t6/t8/t10), a 600M-row window sort
    * (x17), a whole-blob hex() past DuckDB's 4 GiB string cap (s3) — or
    * the full result dump outgrows the disk (x7/x8/x14). The sweep skips
    * those oracles there; the twin runs the same body on a bounded slice
    * of the input (a [[Slice]], or s3's glob), so DuckDB keeps checking
    * the same pipeline at every scale point while full rows stay checked
    * where their oracles still run. What separates a twin from its full
    * form is exactly `full` vs `twin`: the rows read and, for a few
    * families, an explicit argument — never a branch on the query name.
    */
  def withSlice[A](name: String, twinName: String, full: A, twin: A)(
      oracle: A => String)(
      body: A => (SparkSession, String) => DataFrame): Seq[QueryDef] =
    Seq(QueryDef(name, oracle(full))(body(full)),
      QueryDef(twinName, oracle(twin))(body(twin)))

  /** The common form: the twin is the full query over `slice`. */
  def withSlice(name: String, twinName: String, slice: Slice)(
      oracle: String)(
      body: (SparkSession, DataFrame) => DataFrame): Seq[QueryDef] =
    withSlice(name, twinName, slice.whole, slice)(_.sql(oracle))(
      rows => (s, d) => body(s, rows.read(s, d)))

  /** Fan a scan-parallelism-degenerate source out to the session's cores
    * before heavy per-row compute.
    *
    * Parquet scan splits end at row-group boundaries, so a SINGLE file
    * with one row group is ONE task no matter how many cores exist — the
    * shape of the driver's sf0.1 testdata (and of any real corpus
    * delivered as one fat file). A regex/format/trig pipeline then runs
    * serially while 31 cores idle (measured: s4's parse was 7.9 s on one
    * task, DuckDB 1.9 s on 32 threads — Spark's per-row cost is LOWER;
    * only the layout serialized it). One narrow round-robin exchange of
    * the pre-compute columns unlocks the cores.
    *
    * Scale safety: the fan-out only fires when the scan actually planned
    * fewer splits than half the cores — a multi-file corpus (every
    * datagen scale point, any sane 100 TB layout) plans >= cores splits
    * and passes through untouched, so no shuffle is ever added at scale.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val cores = sc.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= cores) df
    else df.repartition(cores)
  }
}
