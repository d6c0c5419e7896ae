package graft
import org.apache.spark.sql.SparkSession

/** Perf surface: run every declared query at SPARK_GRAFT_SF_DIR, print ONE
  * JSON line with per-query wall seconds. A failing query is loudly
  * reported on stderr (name + exception) and contributes -1.0 — never a
  * silent near-zero that reads as "fast".
  *
  * Each query is timed as the MEDIAN of `SPARK_GRAFT_REPS` runs
  * (default 3): single-shot full-bench numbers at sf0.1 showed ±6×
  * position/GC noise on unchanged plans (round-7 x4/x5), which medians
  * kill. The total is the sum of medians. Every line — the queries, the
  * sim3 index build and the bucketed ingest — is timed at one site,
  * [[timedLine]]. The full line also records `cpus`, the local[n] width
  * the run had.
  *
  * Bench only measures. Ratios against DuckDB are derived outside the
  * JVM from a baseline recorded on the same box: scripts/ratios.py for
  * one bench line, scripts/gate.py for the sf0.1 gate.
  */
object Bench {

  /** Execute a declared query FULLY and return its row count — the one
    * timed action of Bench and of the benchmark harness.
    *
    * NOT `df.count()`: count() re-optimizes the plan under an
    * Aggregate[count(1)], and Catalyst then legitimately deletes every
    * subtree that cannot change the row count — all pure projections
    * (the x-family's geometry math vanished: x9's count-plan was a bare
    * parquet scan), final sorts, and even whole join pipelines (em2's
    * unique-key left join eliminated its ENTIRE blocked-pair subtree:
    * 0.14 s at sf100 while em1's identical pair work took 150 s).
    * Meanwhile the DuckDB baseline (scripts/baseline.py) materializes
    * every query with CREATE TEMP TABLE AS — full compute, all columns.
    * Timing count() against that is not a comparison.
    *
    * `queryExecution.toRdd.count()` runs the query's OWN optimized plan
    * — every output column computed into UnsafeRows, joins and sorts
    * executed — and counts rows executor-side with no driver transfer
    * and no second Catalyst pass that could prune work. Discovered and
    * fixed in round 17; bench records from earlier rounds under-measure
    * projection-only and top-level-join queries.
    */
  def runFull(df: org.apache.spark.sql.DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** Generic Spark-machinery warmup: parquet write+read roundtrip under
    * java.io.tmpdir, a hash aggregate, a sort, a persist cycle — all on
    * `spark.range` data. Exercises the one-time costs (parquet
    * reader/writer init, janino codegen of the first real plan shapes,
    * block-manager persist paths) that otherwise land on whichever
    * timed line runs first in a fresh JVM. Touches NO testdata and
    * computes NO declared query, so it cannot pre-compute or cache any
    * benched result — it is the same class of warmup as the existing
    * range-sum line, just covering more of the machinery.
    */
  def machineryWarmup(spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_warm").toFile
    try {
      val p = s"${dir.getAbsolutePath}/w.parquet"
      spark.range(0, 10000)
        .selectExpr("id", "cast(id % 97 as double) as v",
          "array(cast(id as float), cast(id + 1 as float)) as vec")
        .write.mode("overwrite").parquet(p)
      val r = spark.read.parquet(p)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.orderBy("id").limit(5).collect()
      r.groupBy(expr("id % 7")).agg(sum("v"), count("*")).collect()
      r.unpersist(false)
    } finally graft.ops.Memo.rmTree(dir)
  }

  /** Inter-query disk barrier: wait (GC-assisted) until the spill
    * filesystem has at least `minFreeBytes` usable before starting the
    * next query. At sf100 a heavy query's spill tail (x11_center_crop:
    * ~80 GB written) is reclaimed ASYNCHRONOUSLY — ContextCleaner deletes
    * shuffle files only after the stage's references are GC'd, and the
    * OS unlink of tens of GB takes real seconds — so the NEXT query can
    * ENOSPC in its predecessor's shadow (x12/x13 died this way in BOTH
    * round-18 sweeps while passing isolated). The barrier costs nothing
    * when disk is already free (one statfs) and replaces an hour-long
    * sweep loss with a bounded wait.
    *
    * The threshold self-limits to 80% of the free space observed at
    * session start: on a box whose steady-state free is BELOW the
    * requested floor, an unattainable threshold would otherwise stall
    * every line for the full timeout.
    */
  def diskBarrier(minFreeBytes: Long, startupFreeBytes: Long,
      timeoutSec: Int = 300): Unit = {
    if (minFreeBytes <= 0) return
    // Spark spills under spark.local.dir, which defaults to java.io.tmpdir
    val tmp = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val floor = minFreeBytes.min((startupFreeBytes * 0.8).toLong)
    if (tmp.getUsableSpace >= floor) return
    val t0 = System.nanoTime()
    System.err.println(f"[bench] disk barrier: ${tmp.getUsableSpace / 1e9}%.1f GB free < ${floor / 1e9}%.1f GB floor — GC + wait")
    while (tmp.getUsableSpace < floor &&
        (System.nanoTime() - t0) < timeoutSec * 1e9) {
      // GC promotes ContextCleaner's weak-ref processing, which is what
      // actually unlinks dead shuffle/spill files
      System.gc()
      Thread.sleep(2000)
    }
    // a timeout is NOT a release: the sweep proceeds into likely-ENOSPC
    // territory, and the log must say so (a "released" line here made
    // reclaimed-vs-timed-out indistinguishable in sweep forensics)
    if (tmp.getUsableSpace < floor)
      System.err.println(f"[bench] disk barrier TIMED OUT after ${(System.nanoTime() - t0) / 1e9}%.0f s (${tmp.getUsableSpace / 1e9}%.1f GB free < ${floor / 1e9}%.1f GB floor) — proceeding anyway")
    else
      System.err.println(f"[bench] disk barrier released after ${(System.nanoTime() - t0) / 1e9}%.0f s (${tmp.getUsableSpace / 1e9}%.1f GB free)")
  }

  /** Median of wall times — the statistic each Bench line reports. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The one timed line: `run`'s wall seconds as the median of `n` runs,
    * `beforeRep` before each (untimed), or -1.0 when any run throws
    * (logged as `[bench] name FAILED: ...`).
    */
  private def timedLine(name: String, n: Int, beforeRep: () => Unit = () => ())(
      run: => Any): Double =
    SparkEntry.attempt("bench", name) {
      median((1 to n).map { _ =>
        beforeRep()
        val t0 = System.nanoTime()
        run
        (System.nanoTime() - t0) / 1e9
      })
    }.getOrElse(-1.0)

  /** Total bytes of the sf dir's `*.parquet` tables — the one corpus
    * probe the session is sized from. A table may be a parquet DIRECTORY
    * of part files (standard Spark output layout): directories are
    * summed recursively, because a dir's own entry length (~4 KB) would
    * silently flip a large corpus into the tiny-session config (AQE off,
    * 4 shuffle partitions).
    */
  def corpusBytes(sfDir: String): Long = {
    def sz(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).map(_.map(sz).sum).getOrElse(0L)
    Option(new java.io.File(sfDir).listFiles())
      .map(_.filter(_.getName.endsWith(".parquet")).map(sz).sum)
      .getOrElse(Long.MaxValue)
  }

  /** Largest single parquet part file under the sf dir — the quantity
    * scan-split sizing must track (splits come from files, so the widest
    * file bounds scan parallelism).
    */
  def corpusMaxFileBytes(sfDir: String): Long = {
    def mx(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).map(_.foldLeft(0L)((a, c) => a.max(mx(c))))
        .getOrElse(0L)
    Option(new java.io.File(sfDir).listFiles())
      .map(_.filter(_.getName.endsWith(".parquet")).foldLeft(0L)(
        (a, c) => a.max(mx(c))))
      .getOrElse(0L)
  }

  /** Size scan splits to the corpus: ~4 waves of `cpus` tasks over the
    * LARGEST file, clamped to [16 MB, 128 MB (the Spark default)].
    *
    * Why not a constant: 16 MB is right for a ~100 MB-per-table point
    * (the sf1 shape — 128 MB default would scan single-file tables on
    * ~1 core), but at a 13.7 GB table it makes ~860 tasks whose per-task
    * fixed cost (file open + footer/row-group metadata decode, which
    * GROWS with the file's row-group count) dominates: measured at the
    * sf100 point, the whole scan-bound query family ran ~3-5x slower
    * under 16 MB than 128 MB (x9 3.40 s -> 1.01 s, a1 2.92 s -> 0.59 s,
    * identical plans), surfacing as a uniform alpha~1.6 cluster on the
    * sf30->sf100 trend step while DuckDB scaled linearly. The clamp
    * keeps every <=sf10 point at exactly the old 16 MB (committed
    * records stay comparable) and converges to the Spark default at
    * scale.
    */
  def sizedMaxPartitionBytes(sfDir: String, cpus: Int): Long =
    (corpusMaxFileBytes(sfDir) / (4L * cpus.max(1)))
      .max(16L << 20).min(128L << 20)

  /** Size the shuffle width to the corpus: `cpus` partitions up to a
    * ~64 MB-per-partition corpus, then grow with the data, capped at
    * 8x cores. Same lesson as sizedMaxPartitionBytes but for the
    * exchange side: at a fixed 32 partitions the sf100 point puts
    * ~19M rows through each sort task of a big window/join exchange,
    * crossing the in-memory sort threshold — measured x17 112 s at 32
    * partitions vs 67 s at 128 (same plan; the extra partitions just
    * keep per-task sort volume inside memory). AQE (on at every >64 MB
    * point) coalesces the width back down for the exchanges that ARE
    * small, so modest queries do not pay 8x scheduling. On a real
    * cluster this knob is executor count; on one box it is the only
    * lever against per-task volume growing linearly with the corpus.
    */
  def sizedShufflePartitions(sfDir: String, cpus: Int): Int = {
    val c = cpus.max(1)
    // clamp in Long BEFORE narrowing: corpusBytes returns Long.MaxValue
    // for a missing/unlistable sfDir, and a Long->Int truncation of that
    // (or of any >2^31 partition count) is sign-garbage; the old
    // `.toInt.max(c)` only masked it by evaluation order
    ((corpusBytes(sfDir) / (64L << 20)).min(8L * c).max(c.toLong)).toInt
  }

  /** A corpus under 64 MB of parquet gets the tiny-session shape (see
    * [[sessionConf]]). A missing dir reads as Long.MaxValue bytes, i.e.
    * as a scale corpus: callers without parquet input must pass a dir
    * that exists.
    */
  def tinyCorpus(sfDir: String): Boolean = corpusBytes(sfDir) < (64L << 20)

  /** The conf of the one session every entry point runs on, sized to the
    * corpus — same spirit as DuckDB choosing parallelism from table size:
    *  - AQE pays a fixed per-stage replan round trip, worth it exactly
    *    when there is data to re-plan over (runtime coalescing, skew
    *    splitting). Below 64 MB the static plan is already right and the
    *    latency is pure floor on sub-second queries → disabled.
    *  - 32 shuffle partitions on a KB-scale shuffle is 32 tiny tasks of
    *    pure scheduling; a tiny corpus gets 4 (still parallel for the
    *    MB-scale shuffles it can produce). At/above 64 MB both revert to
    *    the scale shape (AQE on, corpus-sized width, see
    *    sizedShufflePartitions), measured unchanged at the committed
    *    sf1/sf3/sf10 points.
    */
  private[graft] def sessionConf(sfDir: String, cpus: Int): Seq[(String, String)] = {
    val tiny = tinyCorpus(sfDir)
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" ->
        (if (tiny) 4 else sizedShufflePartitions(sfDir, cpus)).toString,
      "spark.sql.adaptive.enabled" -> (!tiny).toString,
      // sf10-class runs saturate all cores for minutes; the default 120 s
      // heartbeat window logged spurious RPC timeout warnings there
      "spark.network.timeout" -> "600s",
      // corpus-sized scan splits — rationale on sizedMaxPartitionBytes
      "spark.sql.files.maxPartitionBytes" ->
        sizedMaxPartitionBytes(sfDir, cpus).toString,
      // declared time queries are zone-independent by construction
      // (ops/Tables.scala normalizes ts to epoch-nanos), but the session
      // states the precondition rather than assuming it
      "spark.sql.session.timeZone" -> "UTC",
      // precondition of graft.ops.Tables (asserted there, set here)
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // Spark's default codec, pinned: zstd shuffles 1.35x fewer bytes on
      // the declared row shapes, but local wall time is within noise and
      // lz4 keeps the bench records comparable across rounds
      "spark.io.compression.codec" -> "lz4",
      "spark.ui.enabled" -> "false")
  }

  /** The one SparkSession builder: Bench, Verify and the test suites all
    * run on it, so the plans verified are the plans timed.
    */
  def session(sfDir: String, cpus: Int): SparkSession = {
    val spark = sessionConf(sfDir, cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local[n] width of every main: SPARK_GRAFT_CPUS, default 4. */
  private[graft] def envCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = envCpus
    val spark = session(sfDir, cpus)
    // one-time JVM and Spark machinery startup, which otherwise lands on
    // the first timed line: r22 measured sim3_index_build at 3.8 s cold,
    // ~1.7 s with the machinery warmed (warm rebuilds ~0.8 s either way)
    machineryWarmup(spark)
    // Index BUILD timed as its own line: a real system separates the
    // one-off IVF index build from the queries it serves. sim3's
    // kmeansIndex is memoized per corpus, so pre-warming it here (same
    // definition site as the sim3 query body) makes the sim3 line measure
    // the probe path only, and `sim3_index_build` carries the Lloyd passes.
    val idxLine = "sim3_index_build" -> timedLine("sim3_index_build", 1)(
      graft.queries.SimQueries.sim3Index(spark, sfDir))
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    // recorded in "skipped_queries", so a bench line can never silently
    // pass itself off as full-surface
    val skipQ = SparkEntry.skippedQueries
    // Bucketed-layout ingest timed as its own line, same rationale: a real
    // system pays the layout ONCE and every a2/j1/j2_bucketed run reuses
    // it. Memoized ON DISK, so it measures a write only on the first-ever
    // sweep at a scale point. Only layouts whose consumer queries survive
    // the skip filter are ingested (a disk-constrained sweep skipping
    // a2_bucketed must not still write lineitem's copy); with none, the
    // line is omitted, not -1.0: an intentional skip is not a failure.
    val layouts = graft.ops.Tables.declaredLayouts.map(_._1)
      .filter(graft.ops.Tables.layoutConsumers(_).exists(q => !skipQ(q)))
    var bktCold = false
    val bktLine = if (layouts.isEmpty) Nil else Seq("bucketed_ingest" ->
      timedLine("bucketed_ingest", 1) {
        bktCold = graft.ops.Tables.ingestDeclaredLayouts(spark, sfDir, skipQ)
        // read every layout through once here: first-access I/O of a
        // freshly written layout belongs to ingest, not to whichever
        // bucketed query runs first (r21 charged a2/j2_bucketed 2.2 s for
        // it). toRdd.count() materializes every column of every row.
        layouts.foreach(n =>
          runFull(graft.ops.Tables.bucketedDeclared(spark, sfDir, n)))
      })
    // Inter-query disk barrier (see diskBarrier): 24 GB floor at scale
    // points, off for the tiny driver corpus (sub-second queries never
    // spill GBs, and a GC-wait there would perturb floor timings).
    val minFreeBytes = if (tinyCorpus(sfDir)) 0L else 24L << 30
    val startupFree = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp")).getUsableSpace
    val results = SparkEntry.sweep(spark, "bench", skip = skipQ) { q =>
      diskBarrier(minFreeBytes, startupFree)
      // release BEFORE each rep too: CacheManager matches by logical
      // plan, so reps 2..n of a caching query would otherwise time hits
      timedLine(q.name, reps, () => graft.ops.Caches.releaseAll(spark))(
        runFull(q.fn(spark, sfDir)))
    }.map { case (name, r) => name -> r.getOrElse(-1.0) } ++ bktLine :+ idxLine
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val failed = results.collect { case (k, v) if v < 0 => k }
    if (failed.nonEmpty)
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.sorted.mkString(",")}")
    val head = Seq("metric" -> Json.str("total"), "value" -> total.toString,
      "unit" -> Json.str("sec"))
    // bucketed_ingest_cold: whether the ingest line measured a COLD write
    // or an on-disk re-register (~100x cheaper; r20 ADVICE), null when the
    // ingest FAILED — neither cold nor warm (r21 ADVICE)
    val line = Json.obj(head ++ Seq("reps" -> reps.toString,
        "queries" -> Json.obj(results.map { case (k, v) => k -> v.toString }),
        "sf" -> Json.str(sfDir)) ++
      (if (skipQ.isEmpty) Nil
       else Seq("skipped_queries" ->
         skipQ.toSeq.sorted.map(Json.str).mkString("[", ",", "]"))) ++
      bktLine.map { case (_, v) =>
        "bucketed_ingest_cold" -> (if (v < 0) "null" else bktCold.toString) } :+
      ("cpus" -> cpus.toString))
    // persisted whole too: a captured stdout tail truncates the per-query
    // map on big query counts (BENCH_r13/r14 committed "parsed": null)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "scratch/bench_last.json")
    Json.emit("bench", line, outPath)
    spark.stop()
    // LAST stdout line, deliberately short: a stdout tail truncates the
    // full line above from the FRONT, where its headline "value" sits;
    // this summary survives any tail truncation.
    println(Json.obj(head ++ Seq("sf" -> Json.str(sfDir),
      "full" -> Json.str(outPath))))
  }
}
