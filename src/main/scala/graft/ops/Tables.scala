package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types._

/** Loaders for the driver's synthetic star schema (TESTDATA.md).
  *
  * Every operator in the engine is a `DataFrame => DataFrame` (or a
  * `Column` builder) so it can run both on the 3dptf pose schema and on
  * these TPC-H-ish tables for the DuckDB-oracle checks.
  *
  * == Type-drift guard ==
  *
  * The driver's datagen has re-typed columns between rounds twice
  * (events.ts TIMESTAMP(NANOS)→µs NTZ in r10, embeddings.embedding
  * float→double risk in r11), and each drift broke analysis of every
  * query touching the column. Rather than guarding columns one by one as
  * they break, EVERY declared column is normalized through the
  * `logical` schema map below: whatever physical type the parquet
  * carries, downstream code always sees the logical type. Unknown extra
  * columns pass through untouched; a MISSING declared column fails
  * loudly here (one clear message) instead of as 68 confusing
  * analysis errors.
  *
  * Zone-independence precondition: the `ts` normalization is pure
  * integer arithmetic for every currently-shipped physical type
  * (bigint epoch-nanos pass-through; NTZ timestampdiff against an NTZ
  * epoch literal; instant unix_micros) — none consults
  * `spark.sql.session.timeZone`, and TablesSpec pins that by loading
  * under a non-UTC session and asserting identical values. The one
  * zone-DEPENDENT branch is the drift fallback instant→NTZ cast for
  * wall-clock columns (`o_orderdate`/`l_shipdate` if datagen ever
  * re-types them as instants): that cast renders in the session zone,
  * which Verify/Bench pin to UTC.
  */
object Tables {

  /** Logical column type the engine promises downstream, independent of
    * how the driver's generator typed the parquet this round.
    */
  private sealed trait LType
  /** bigint epoch-nanos — what every time consumer (WindowQueries,
    * Windows, Sessionize, the oracles' epoch_ns) speaks. */
  private case object TsNanos extends LType
  /** wall-clock timestamp with no zone (TIMESTAMP_NTZ). */
  private case object TsNtz extends LType
  private final case class Plain(dt: DataType) extends LType

  private val I = Plain(IntegerType)
  private val L = Plain(LongType)
  private val D = Plain(DoubleType)
  private val S = Plain(StringType)
  private val VecF = Plain(ArrayType(FloatType))

  private val logical: Map[String, Seq[(String, LType)]] = Map(
    "region" -> Seq("r_regionkey" -> I, "r_name" -> S),
    "nation" -> Seq("n_nationkey" -> I, "n_name" -> S, "n_regionkey" -> I),
    "customer" -> Seq("c_custkey" -> L, "c_name" -> S, "c_nationkey" -> I,
      "c_acctbal" -> D, "c_mktsegment" -> S),
    "supplier" -> Seq("s_suppkey" -> L, "s_name" -> S, "s_nationkey" -> I,
      "s_acctbal" -> D),
    "part" -> Seq("p_partkey" -> L, "p_name" -> S, "p_brand" -> S,
      "p_type" -> S, "p_size" -> I, "p_retailprice" -> D),
    "orders" -> Seq("o_orderkey" -> L, "o_custkey" -> L,
      "o_orderstatus" -> S, "o_totalprice" -> D, "o_orderdate" -> TsNtz,
      "o_orderpriority" -> S),
    "lineitem" -> Seq("l_orderkey" -> L, "l_partkey" -> L, "l_suppkey" -> L,
      "l_linenumber" -> I, "l_quantity" -> D, "l_extendedprice" -> D,
      "l_discount" -> D, "l_tax" -> D, "l_returnflag" -> S,
      "l_linestatus" -> S, "l_shipdate" -> TsNtz),
    "events" -> Seq("event_id" -> L, "ts" -> TsNanos, "user_id" -> L,
      "event_type" -> S, "value" -> D, "props" -> S),
    "documents" -> Seq("doc_id" -> L, "text" -> S, "lang" -> S,
      "source" -> S, "n_chars" -> L),
    "embeddings" -> Seq("vec_id" -> L, "embedding" -> VecF, "label" -> I))

  /** Memoized analyzed base relations — the engine's "catalog".
    *
    * `spark.read.parquet` re-lists the path and re-reads the footer on
    * EVERY call (~100 ms warm), which for a sub-second query is the
    * single largest fixed cost. A real engine resolves a table through a
    * catalog once per session, exactly as the DuckDB oracle harness
    * creates its views once per connection — so table resolution is
    * memoized per (session, zone, dir, table). Values are immutable
    * logical plans (no pinned data; Caches.releaseAll is unaffected).
    * The session timeZone is part of the key so a zone change mid-session
    * (TablesSpec's zone-independence pin) re-runs normalization under
    * the new zone rather than replaying a plan built under the old one.
    *
    * Contract: a table path is not rewritten within a session's lifetime
    * (the memoized plan pins the file listing and schema observed at
    * first resolution — standard immutable-table catalog semantics).
    * Entries of STOPPED sessions are purged on every call, so test
    * churn cannot retain dead sessions' plans indefinitely.
    */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String, String), DataFrame]()

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // TIMESTAMP(NANOS) columns are otherwise unreadable — Spark has no
    // nanosecond timestamp and refuses the file (PARQUET_TYPE_ILLEGAL);
    // with nanosAsLong they arrive as raw bigint epoch-nanos and
    // normalize() maps that to the logical type. The flag is a
    // PRECONDITION set once at session construction (Bench.session
    // does) — asserted here, never mutated: a conf.set inside this
    // resolution path could flip mid-query under a concurrent reader of
    // the same session.
    require(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
        == "true",
      "set spark.sql.legacy.parquet.nanosAsLong=true at session " +
        "construction before resolving graft tables (see Tables scaladoc)")
    val zone = spark.conf.get("spark.sql.session.timeZone", "UTC")
    val it = relCache.keySet().iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    if (relCache.size > 256) relCache.clear() // many sessions/dirs: re-resolve
    relCache.computeIfAbsent((spark, zone, sfDir, name), _ => {
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      logical.get(name).fold(df)(cols => normalize(df, name, cols))
    })
  }

  private def normalize(df: DataFrame, table: String,
      cols: Seq[(String, LType)]): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val fixes = cols.flatMap { case (c, want) =>
      have.get(c) match {
        case None => sys.error(
          s"$table.$c: column missing from parquet (datagen drift? " +
            s"present: ${df.schema.fieldNames.mkString(", ")})")
        case Some(got) => fix(table, c, want, got).map(c -> _)
      }
    }
    fixes.foldLeft(df) { case (d, (c, e)) => d.withColumn(c, e) }
  }

  /** None = already the logical type; Some(expr) = the normalizing cast.
    * Unexpected physical types fail loudly (better one clear message at
    * load than 68 downstream analysis errors).
    */
  private def fix(table: String, c: String, want: LType,
      got: DataType): Option[Column] = (want, got) match {
    case (TsNanos, LongType) => None // nanosAsLong already = epoch-nanos
    case (TsNanos, TimestampNTZType) =>
      // wall-clock micros, no zone: diff against the NTZ epoch literal —
      // pure integer arithmetic, independent of session.timeZone (an
      // implicit NTZ→TIMESTAMP cast would NOT be)
      Some(expr(s"timestampdiff(MICROSECOND, " +
        s"TIMESTAMP_NTZ '1970-01-01 00:00:00', $c) * 1000"))
    case (TsNanos, TimestampType) =>
      // instant micros: unix_micros is zone-independent by definition
      Some(unix_micros(col(c)) * 1000L)
    case (TsNtz, TimestampNTZType) => None
    case (TsNtz, LongType) =>
      // the only Long a timestamp column produces today is the
      // nanosAsLong read of TIMESTAMP(NANOS) — epoch-nanos
      Some(expr(s"timestampadd(MICROSECOND, CAST($c div 1000 AS BIGINT), " +
        "TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
    case (TsNtz, TimestampType | DateType) =>
      Some(col(c).cast(TimestampNTZType)) // zone-dependent: UTC pinned
    case (Plain(dt), got2) if got2 == dt => None
    case (Plain(ArrayType(et, _)), ArrayType(_, _)) =>
      Some(col(c).cast(ArrayType(et)))
    case (Plain(dt), _: NumericType) if dt.isInstanceOf[NumericType] =>
      Some(col(c).cast(dt))
    case (Plain(StringType), o)
        if !o.isInstanceOf[ArrayType] && !o.isInstanceOf[StructType] &&
          !o.isInstanceOf[MapType] =>
      Some(col(c).cast(StringType))
    case _ => sys.error(s"$table.$c: unsupported parquet type $got " +
      s"for logical $want")
  }

  /** Bucketed-layout catalog (A2_SF100.md §6 productized): the same
    * logical table, stored hash-bucketed (and bucket-sorted) on a key, so
    * keyed aggregation and co-bucketed joins run with NO shuffle exchange
    * — the layout a production ingest buys once and every downstream
    * query reuses. On a 1000-executor cluster this is the difference
    * between re-shuffling 100 TB per query and reading co-located
    * buckets with zero network (measured at sf100: a2 52→20.5 s,
    * j2 12.8→9.0 s medians).
    *
    * Lifecycle (existence-memoized, like the pipeline runner):
    *  1. table already in this session's catalog → reuse;
    *  2. files on disk from an earlier session (`_SUCCESS` present) →
    *     re-register as an external bucketed table (DDL only, no
    *     re-write: bucket ids live in the file names, sort order in the
    *     catalog spec we re-declare);
    *  3. otherwise ingest: `repartition(n, key)` uses the SAME
    *     murmur3-pmod function as the bucket-id assignment, so every
    *     write task holds exactly one bucket → exactly one file per
    *     bucket, which is also the precondition for the reader to trust
    *     the per-bucket sort (multi-file buckets forfeit it).
    *
    * The table tag fingerprints the SOURCE parquet (size + mtime): if the
    * driver regenerates testdata, the stale layout is abandoned and
    * re-ingested rather than silently served.
    *
    * Storage root: SPARK_GRAFT_BUCKET_DIR (default `scratch/bucketed`,
    * dev-local and git-ignored). The source dir itself may be read-only.
    */
  def bucketed(spark: SparkSession, sfDir: String, table: String,
      key: String, cols: Seq[String], buckets: Int = 256): DataFrame =
    bucketLock.synchronized {
      // canonical sfDir: a relative vs absolute spelling of the same
      // directory must not mint a second multi-GB layout copy (r20
      // ADVICE) — getCanonicalFile resolves both `.`/`..` and symlinks
      val canonSf = new java.io.File(sfDir).getCanonicalPath
      // logical identity of the layout MINUS the source fingerprint: two
      // tags sharing a logicalId are the same layout at different source
      // generations — exactly the stale copies the ingest-time GC below
      // deletes before writing a fresh one
      val logicalId = s"$canonSf|$table|$key|${cols.mkString(",")}|$buckets"
      val tag = {
        val id = s"$logicalId|" +
          sourceFingerprint(s"$sfDir/$table.parquet")
        val md5 = java.security.MessageDigest.getInstance("MD5")
        md5.digest(id.getBytes("UTF-8")).take(6)
          .map("%02x".format(_)).mkString
      }
      val tname = s"graft_bkt_${table}_$tag"
      if (!spark.catalog.tableExists(tname)) {
        val root = sys.env.getOrElse("SPARK_GRAFT_BUCKET_DIR",
          "scratch/bucketed")
        val loc = new java.io.File(s"$root/$tname").getAbsoluteFile
        val src = t(spark, sfDir, table).select(cols.map(col): _*)
        if (new java.io.File(loc, "_SUCCESS").isFile) {
          spark.sql(
            s"""CREATE TABLE $tname (${src.schema.toDDL}) USING parquet
               |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
               |LOCATION '${loc.toURI}'""".stripMargin)
        } else {
          // GC stale generations BEFORE paying the write (r20 ADVICE):
          // on the sf100 box abandoned multi-GB copies accumulate toward
          // the exact ENOSPC the bench's disk barrier exists to avoid
          gcStaleLayouts(new java.io.File(root), table, logicalId, tname)
          lastIngestWroteFiles = true
          src.repartition(buckets, col(key))
            .write.mode("overwrite")
            .bucketBy(buckets, key).sortBy(key)
            .format("parquet").option("path", loc.toString)
            .saveAsTable(tname)
          // identity marker consumed by gcStaleLayouts of FUTURE
          // generations; written after the data so a crashed ingest
          // (no _SUCCESS) is itself GC-able as marker-less
          val w = new java.io.PrintWriter(
            new java.io.File(loc, "_graft_id"), "UTF-8")
          try w.println(logicalId) finally w.close()
        }
      }
      spark.table(tname)
    }

  /** Delete sibling layout dirs of `table` that this ingest supersedes:
    * same logical identity but a different tag (the source was
    * regenerated — fingerprint drift), or a graft_bkt dir with no
    * `_graft_id` marker (a pre-marker-format or crashed ingest; its tag
    * can never be re-derived, so it would otherwise leak forever).
    * Scoped to names with this table's prefix so another table's layouts
    * are untouched; a marker naming a DIFFERENT logicalId (e.g. the
    * orders_keys vs orders_wide projections of the same source table, or
    * another corpus) is live and kept.
    */
  private def gcStaleLayouts(root: java.io.File, table: String,
      logicalId: String, keep: String): Unit = {
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
      f.delete()
    }
    Option(root.listFiles()).getOrElse(Array.empty).foreach { d =>
      if (d.isDirectory && d.getName.startsWith(s"graft_bkt_${table}_") &&
          d.getName != keep) {
        val marker = new java.io.File(d, "_graft_id")
        val staleSameLayout = marker.isFile && {
          val src = scala.io.Source.fromFile(marker, "UTF-8")
          try src.getLines().next().trim == logicalId
          finally src.close()
        }
        // marker-less dirs are GC'd only past a safety window: the
        // marker is written AFTER saveAsTable and bucketLock is
        // JVM-local, so a SECOND JVM's in-flight ingest of a sibling
        // layout (Bench + tests on one box) is marker-less while healthy
        // — deleting it mid-write corrupts that ingest (r21 ADVICE). A
        // genuinely crashed/pre-marker dir ages past the window and is
        // then collected by any later ingest of the same table.
        val safetyMs = 6L * 3600 * 1000
        val abandonedNoMarker = !marker.isFile &&
          d.lastModified < System.currentTimeMillis() - safetyMs
        if (staleSameLayout || abandonedNoMarker) {
          System.err.println(
            s"[tables] GC stale bucketed layout ${d.getName}")
          rmTree(d)
        } else if (!marker.isFile) {
          System.err.println(
            s"[tables] keeping recent marker-less layout ${d.getName} " +
              "(possible in-flight ingest of another JVM)")
        }
      }
    }
  }

  private val bucketLock = new Object

  /** True iff some `bucketed` call in this JVM actually WROTE files (as
    * opposed to re-registering an existing on-disk layout) — Bench reads
    * and resets this so its `bucketed_ingest` line can record whether it
    * measured a cold write or a catalog lookup (r20 ADVICE: the two
    * differ by ~100x and were indistinguishable in the JSON).
    */
  @volatile private[graft] var lastIngestWroteFiles = false

  /** Scale-adaptive bucket count for the DECLARED layouts (the guide's
    * §2 rule: partitioning derived from input size, never a constant
    * tuned for one scale). ~64 MB of source parquet per bucket across
    * the corpus, clamped to [32, 256]:
    *   - one corpus-wide number (not per-table) because co-bucketed
    *     joins (j1/j2) require BOTH sides at the same bucket count;
    *   - floor 32 keeps bucket-local scans parallel on typical
    *     executor-slot widths (and at every tiny corpus the write cost
    *     is trivial anyway);
    *   - cap 256 is the flagship sf100 shape (17 GB corpus → 256), so
    *     committed sf100 records stay comparable.
    * Before this sizing the fixed 256 made the sf0.1 gate pay 256-770
    * near-empty scan tasks per bucketed query (a2/j1/j2_bucketed were
    * 3 of the 5 slowest gate lines, ~2.5 s of pure task scheduling) and
    * a 23 s cold ingest writing 1024 ~40 KB files — the small-files
    * problem of guide §6 manufactured at ingest time.
    */
  def defaultBuckets(sfDir: String): Int =
    ((graft.Bench.corpusBytes(sfDir) / (64L << 20)).max(32L).min(256L)).toInt

  /** The declared bucketed layouts — single source of truth shared by
    * the a2/j1/j2 bucketed query bodies and Bench's ingest pre-warm
    * line, so the benched layout can never drift from the queried one.
    * Named (layoutName, sourceTable, bucketKey, columns): a table may
    * carry more than one layout (orders ships both the j2 key column
    * and the j1 wide projection, both bucketed on custkey so either
    * co-partitions with customer).
    */
  val declaredLayouts: Seq[(String, String, String, Seq[String])] = Seq(
    ("lineitem", "lineitem", "l_orderkey", Seq("l_orderkey", "l_quantity")),
    ("customer", "customer", "c_custkey", Seq("c_custkey", "c_name")),
    ("orders_keys", "orders", "o_custkey", Seq("o_custkey")),
    ("orders_wide", "orders", "o_custkey",
      Seq("o_orderkey", "o_custkey", "o_totalprice")))

  /** Which declared queries consume each declared layout — Bench's
    * skip-aware ingest (r20 ADVICE: skipping a2_bucketed in a
    * disk-constrained sweep must not still write the multi-GB lineitem
    * copy only a2_bucketed reads).
    */
  val layoutConsumers: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("a2_bucketed"),
    "customer" -> Seq("j1_bucketed", "j2_bucketed"),
    "orders_keys" -> Seq("j2_bucketed"),
    "orders_wide" -> Seq("j1_bucketed"))

  /** Resolve one of the declared bucketed layouts by name. */
  def bucketedDeclared(spark: SparkSession, sfDir: String,
      layout: String): DataFrame = {
    val (_, table, key, cols) = declaredLayouts.find(_._1 == layout)
      .getOrElse(sys.error(s"no declared bucketed layout named $layout"))
    bucketed(spark, sfDir, table, key, cols, defaultBuckets(sfDir))
  }

  /** Ingest the declared layouts whose consumer queries survive `skipQ`
    * (Bench's pre-warm; memoized on disk, so only the first-ever sweep
    * at a scale point pays the write). Returns true iff any layout
    * actually WROTE files (cold ingest) rather than re-registering.
    */
  def ingestDeclaredLayouts(spark: SparkSession, sfDir: String,
      skipQ: Set[String] = Set.empty): Boolean = {
    lastIngestWroteFiles = false
    declaredLayouts.foreach { case (name, _, _, _) =>
      if (layoutConsumers(name).exists(q => !skipQ(q)))
        bucketedDeclared(spark, sfDir, name)
    }
    lastIngestWroteFiles
  }

  /** Drift detector for the bucketed-table tag: file count + newest
    * mtime + a hash over every (relative name, size) — one cheap local
    * listing, but a regeneration that preserves total bytes within the
    * mtime granularity still flips the per-file hash (r20 ADVICE; the
    * old total-size+mtime pair could miss it). A MISSING source path
    * fails loudly instead of returning a constant: a constant meant any
    * future non-local corpus would silently reuse stale buckets.
    */
  private[graft] def sourceFingerprint(path: String): String = {
    val rootF = new java.io.File(path)
    require(rootF.exists,
      s"bucketed-layout source $path does not exist locally — " +
        "non-local sources cannot be fingerprinted (and must not " +
        "silently reuse a stale layout)")
    val files = Seq.newBuilder[(String, java.io.File)]
    def walk(f: java.io.File, rel: String): Unit =
      if (f.isFile) files += rel -> f
      else Option(f.listFiles()).getOrElse(Array.empty)
        .sortBy(_.getName)
        .foreach(c => walk(c, s"$rel/${c.getName}"))
    walk(rootF, "")
    val fs = files.result()
    val mt = fs.foldLeft(0L)((m, f) => m.max(f._2.lastModified))
    val h = fnv1a(fs.map { case (rel, f) => s"$rel:${f.length}" })
    s"${fs.size}:$mt:${java.lang.Long.toHexString(h)}"
  }

  /** 64-bit FNV-1a over each string's UTF-16 units plus a NUL after each
    * one, so distinct listings like ["ab","c"] and ["a","bc"] cannot
    * collide. The one listing hash behind the bucketed-layout tag and the
    * IVF index key (Similarity.kmeansIndex): both persist across runs, so
    * its output must never change.
    */
  private[graft] def fnv1a(parts: Iterable[String]): Long =
    parts.foldLeft(0xcbf29ce484222325L)((h, p) =>
      (p + '\u0000').foldLeft(h)((a, c) => (a ^ c) * 0x100000001b3L))

  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = t(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
