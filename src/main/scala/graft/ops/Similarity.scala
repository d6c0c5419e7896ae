package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Dot products are computed with an explicit double-accumulating
  * left-to-right fold so results are bit-identical to a sequential engine
  * (the DuckDB oracle) — no reliance on float summation order.
  */
object Similarity {

  /** Left-to-right double dot product of two float-array columns —
    * higher-order-function fold (works anywhere, no registration).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (s, p) => s + p)

  /** Codegen'd form of `dot` (graft.expr.DotF32) — bit-identical values,
    * but a primitive loop inside whole-stage codegen instead of
    * interpreted HOF ArrayData churn. Requires GraftFunctions.register
    * (done by the search entry points below).
    */
  def dotFast(a: Column, b: Column): Column =
    call_function("dot_f32", a, b)

  /** L2 norm of a float-array column. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity (HOF form). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Cosine via the codegen'd dot — same bits, hot-path speed. */
  def cosineFast(a: Column, b: Column): Column =
    dotFast(a, b) / (sqrt(dotFast(a, a)) * sqrt(dotFast(b, b)))

  /** Squared L2 distance between a float-array column and a double-array
    * column (centroid), left-to-right — the HOF reference the
    * `nearest_cells` kernel (centroidRankCells) is tested against.
    */
  def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double")
        d * d
      }),
      lit(0.0),
      (s, p) => s + p)

  /** Per-query top-k reduction via the bounded TopKBySim aggregate
    * (graft.expr.TopKAgg): map-side partial with an O(k) buffer per
    * query, so no task ever sorts a query's whole candidate set — the
    * scale-safe replacement for `row_number() over (partition by q_id)`.
    * Ranking decisions are identical (sim DESC, id ASC on the already-
    * rounded sim).
    */
  private def topKReduce(scored: DataFrame, qId: String, cId: String,
      k: Int): DataFrame =
    scored
      .groupBy(col(qId))
      .agg(call_function("topk_by_sim",
        col("sim"), col(cId).cast("long"), lit(k)).as("__top"))
      .select(col(qId), posexplode(col("__top")).as(Seq("__rk0", "__s")))
      .select(col(qId), (col("__rk0") + 1).cast("int").as("rank"),
        col("__s.id").as(cId), col("__s.sim").as("sim"))

  /** Brute-force cosine top-k: for each query row, score all candidates.
    * The query side must be small (broadcast); candidates scan distributed.
    * Ranking key is round(sim, 6) DESC then candidate id ASC so that
    * float noise can never flip the order vs the oracle; the reduction is
    * the bounded-buffer aggregate (topKReduce), not a window.
    */
  def bruteTopK(
      queries: DataFrame, candidates: DataFrame, k: Int,
      qId: String = "q_id", cId: String = "c_id",
      qVec: String = "q_vec", cVec: String = "c_vec"): DataFrame = {
    graft.expr.GraftFunctions.register(candidates.sparkSession)
    val joined = candidates.crossJoin(broadcast(queries))
      .withColumn("sim", round(cosineFast(col(qVec), col(cVec)), 6))
    topKReduce(joined, qId, cId, k)
  }

  /** Exact all-pairs cosine within each blocking key, with the hot-block
    * triangle decomposition that keeps a skewed label from funnelling its
    * entire |block|² pair set through ONE shuffle task: each row gets a
    * deterministic bucket b in [0, m) where m = ceil(|block| / maxBlock)
    * (per label, from a broadcast count), and the pair (x, y) is produced
    * exactly once by the task owning bucket pair (p, q) = (bx, by) ordered.
    * Per-task pair count is bounded by ~maxBlock²; replication cost is
    * m+1 copies of each hot-block row (cold blocks: m = 1, identical to a
    * plain self-join). Total work stays O(|block|²) — inherent to exact
    * all-pairs — but no task sees more than a bounded slice of it.
    * Output: (label, p, q, va, vb, cos) with va < vb.
    */
  def blockedPairs(df: DataFrame, labelCol: String, idCol: String,
      vecCol: String, maxBlock: Int = 1024): DataFrame = {
    graft.expr.GraftFunctions.register(df.sparkSession)
    val base = df.select(col(labelCol).as("__lbl"), col(idCol).as("__id"),
      col(vecCol).as("__vec"), l2norm(col(vecCol)).as("__nrm0"))
      // gate the norm ONCE PER ROW (not per pair): the pair-level
      // rounding below is the unguarded pure-IEEE floor form, which
      // silently corrupts non-finite values (Spark floor(double) casts
      // through BIGINT) — a zero or non-finite vector must fail loudly
      // here instead. Finite nrm > 0 makes every downstream cosine
      // finite, so the per-pair hot path can stay guard-free.
      .withColumn("__nrm",
        when(col("__nrm0").isNull ||
          (col("__nrm0") - col("__nrm0") === 0.0 && col("__nrm0") > 0.0),
          col("__nrm0"))
          .otherwise(raise_error(concat(
            lit("blockedPairs: zero or non-finite vector norm "),
            col("__nrm0").cast("string"))).cast("double")))
      .drop("__nrm0")
    val counts = base.groupBy("__lbl")
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__m",
        greatest(lit(1), ceil(col("__cnt") / lit(maxBlock.toDouble)))
          .cast("int"))
      .select("__lbl", "__m")
    val bucketed = base.join(broadcast(counts), "__lbl")
      .withColumn("__b", pmod(hash(col("__id")), col("__m")))
    val aSide = bucketed
      .withColumn("__q", explode(sequence(col("__b"), col("__m") - 1)))
      .select(col("__lbl"), col("__b").as("__p"), col("__q"),
        col("__id").as("va"), col("__vec").as("__ea"),
        col("__nrm").as("__na"))
    val bSide = bucketed
      .withColumn("__p", explode(sequence(lit(0), col("__b"))))
      .select(col("__lbl"), col("__p"), col("__b").as("__q"),
        col("__id").as("vb"), col("__vec").as("__eb"),
        col("__nrm").as("__nb"))
    // SHUFFLE_HASH, not the planner's default SortMergeJoin: every join
    // key (label, p, q) is a bucket PAIR whose sides hold ~maxBlock rows
    // each, which exceeds SMJ's per-group in-memory buffer threshold
    // (spark.sql.sortMergeJoinExec.buffer.in.memory.threshold = 2048
    // ROWS) — SMJ then spills the right group and RE-READS it from disk
    // once per left row: measured ~770 ns/pair on the sf30-scale skewed
    // corpus (>6 CPU-hours for 3.25e10 pairs) vs ~25 ns/pair streaming
    // against an in-memory hash map. Build-side memory is bounded: a
    // partition holds (bSide rows / partitions) ~ a few hundred MB of
    // vectors at any committed point, and the session sizes partitions
    // with the corpus.
    aSide.join(bSide.hint("shuffle_hash"), Seq("__lbl", "__p", "__q"))
      // same-bucket tasks see all ordered pairs -> keep one orientation;
      // cross-bucket tasks see each unordered pair exactly once
      .filter(col("__p") =!= col("__q") || col("va") < col("vb"))
      // floor-form rounding, NOT round(x, 6): Spark's double round goes
      // through BigDecimal.valueOf -> Double.toString (~380 ns + two
      // allocations per value), and THIS is the engine's single hottest
      // expression site — it runs once per candidate PAIR (3.25e10 pairs
      // on the sf30-scale skewed corpus ≈ 3.4 wasted core-HOURS; the
      // 64-float dot itself costs ~25 ns). The oracles write the same
      // floor formula, so cross-engine equality is by construction.
      // Inputs are finite and norms positive (gated per row above).
      .select(col("__lbl").as(labelCol), col("__p").as("p"),
        col("__q").as("q"),
        least(col("va"), col("vb")).as("va"),
        greatest(col("va"), col("vb")).as("vb"),
        (lit(0.0) + floor(dotFast(col("__ea"), col("__eb")) /
          (col("__na") * col("__nb")) * 1e6 + 0.5) / 1e6).as("cos"))
  }

  /** Per-label closest pair over `blockedPairs`, ranked by
    * (cos DESC, va, vb) — via the custom `argmax_pair` aggregate rather
    * than max_by or a row_number window. max_by's struct buffer cannot
    * hash-aggregate, so the planner silently planned SortAggregate and
    * its PARTIAL stage sorted the entire pair stream to disk (1.8e10
    * rows at the sf30 point — the spill filled the box). argmax_pair is
    * a TypedImperativeAggregate (ObjectHashAggregate): constant 25-byte
    * buffer per label, true map-side partial — each triangle task
    * pre-reduces its own pair slice to one candidate before the shuffle.
    */
  def blockedClosestPair(df: DataFrame, labelCol: String, idCol: String,
      vecCol: String, maxBlock: Int = 1024): DataFrame =
    blockedPairs(df, labelCol, idCol, vecCol, maxBlock)
      .groupBy(col(labelCol))
      .agg(call_function("argmax_pair",
        col("cos"), col("va"), col("vb")).as("__best"))
      .select(col(labelCol), col("__best.va").as("va"),
        col("__best.vb").as("vb"), col("__best.cos").as("cos"))

  /** IVF-prefiltered closest pair — the scale route that bends
    * `blockedClosestPair`'s within-block quadratic (em1's sf30→sf100
    * α≈1.9, the one line that dominates the bench at the next scale-up).
    *
    * Each vector is probed into its `nProbe` nearest IVF cells
    * (`centroidRanks` over the memoized k-means index); candidate pairs
    * are exactly the same-label pairs whose probed CELL SETS intersect,
    * generated by the same bounded triangle-block join as em1 but on the
    * composite (label, cell) key. Surviving candidates are verified with
    * the EXACT rounded cosine, and the per-key max_by stays map-side
    * partial. A pair sharing two probed cells is generated twice; max_by
    * over identical values makes the duplicate harmless (no DISTINCT
    * pass needed).
    *
    * Work: with k cells and nProbe probes, expected pair flops drop to
    * ~nProbe²/k of em1's while per-task work stays capped at maxBlock² —
    * the shuffle now carries nProbe copies of each vector instead of
    * ceil(|label|/maxBlock)+1. `hotCellCap` additionally bounds the
    * co-celled quadratic inside hot (label, cell) blocks by the
    * next-rank sub-split documented at the `keyed` stage below — without
    * it a label owning a constant fraction of the corpus grows em3's
    * candidate work quadratically even though every task stays bounded.
    *
    * APPROXIMATE by construction: a label whose true closest pair never
    * shares a probed cell reports its best CO-CELLED pair instead (or no
    * row if no pair co-cells) — the declared em3 oracle encodes exactly
    * these semantics, and the em3-vs-em1 agreement rate is pinned in the
    * test suite. em1 stays as the exact witness.
    */
  def ivfClosestPair(df: DataFrame, labelCol: String, idCol: String,
      vecCol: String, cents: DataFrame, nProbe: Int = 2,
      maxBlock: Int = 1024, hotCellCap: Int = Int.MaxValue): DataFrame = {
    val cells = df
      // stage the ranked array ONCE: it feeds both slices below, and a
      // non-cheap multi-referenced alias survives CollapseProject — an
      // inline ranking would re-run per consumer. An empty centroid
      // table ranks to empty arrays: no probe, no row
      .withColumn("__rkc", centroidRankCells(df, vecCol, cents, nProbe + 2))
      .select(col(labelCol), col(idCol), col(vecCol),
        // probed cells (ranks 1..nProbe) + the two NEXT-nearest cells
        // (ranks nProbe+1, nProbe+2) that sub-key hot blocks below
        transform(slice(col("__rkc"), 1, nProbe), s => s.getField("c_label"))
          .as("__pc"),
        transform(slice(col("__rkc"), nProbe + 1, 2), s => s.getField("c_label"))
          .as("__subs"))
    // cached (graft-scoped, harness-released): three consumers re-run
    // this lineage otherwise — the cnt broadcast below, then
    // blockedPairs' own counts pass and its bucketed join — and the
    // 25-cell ranking is the expensive part of each re-run
    val probed = Caches.cached(
      cells.withColumn("__c", explode(col("__pc"))).drop("__pc"))
    // Hot-cell sub-split: a (label, cell) block whose population exceeds
    // `hotCellCap` re-keys each row by the vector's two next-nearest
    // cells ("cross-split probe"): a hot pair survives only if those
    // sub-cell SETS intersect, so a hot block of n rows becomes ~2n rows
    // spread over the other k-nProbe-2 cells and its candidate work drops
    // from C(n,2) to ~sum C(2n/(k-4), 2) (~6x at k=25) — this bounds the
    // co-celled quadratic that label skew otherwise feeds (zipf30: the
    // 34%-hot label put 13-19k rows in EVERY cell; measured candidate
    // work 5.24e9 -> 1.42e9 at nProbe=2, cap=4096). Cool blocks keep
    // s = own cell, i.e. exactly the pre-split semantics. A vector with
    // no sub-ranks (fewer than nProbe+2 centroids) falls back to s = c.
    // The em3 oracles encode the same conditional (cnt + list_intersect).
    val cnt = probed.groupBy(col(labelCol), col("__c"))
      .agg(count(lit(1)).as("__n"))
    val keyed = probed
      .join(broadcast(cnt), Seq(labelCol, "__c"))
      .withColumn("__s", explode(
        when(col("__n") <= hotCellCap || size(col("__subs")) === 0,
          array(col("__c")))
          .otherwise(col("__subs"))))
      // composite block key as a struct (not a string concat — labels
      // containing a separator char would alias): blockedPairs only ever
      // groups/joins/hashes the key column, all struct-safe
      .withColumn("__cl",
        struct(col(labelCol).as("l"), col("__c").as("c"), col("__s").as("s")))
      .select(col("__cl"), col(idCol), col(vecCol))
    blockedPairs(keyed, "__cl", idCol, vecCol, maxBlock)
      .groupBy(col("__cl.l").as(labelCol))
      // argmax_pair, not max_by — same SortAggregate trap as
      // blockedClosestPair (see its scaladoc); duplicates from a pair
      // sharing two probed cells stay harmless (identical values)
      .agg(call_function("argmax_pair",
        col("cos"), col("va"), col("vb")).as("__best"))
      .select(col(labelCol), col("__best.va").as("va"),
        col("__best.vb").as("vb"), col("__best.cos").as("cos"))
  }

  /** IVF-style centroids: per-partition (label) column-wise mean of the
    * embedding, components rounded to `roundTo` decimals so that assignment
    * decisions are stable across engines/agg orders. Returns
    * (label, centroid array<double> ordered by component).
    */
  def centroids(embeddings: DataFrame, vecCol: String, labelCol: String,
      roundTo: Int = 3): DataFrame = {
    graft.expr.GraftFunctions.register(embeddings.sparkSession)
    // element-wise array_sum_agg: dim doubles per (label, partition)
    // through the shuffle, vs the posexplode form's n x dim rows
    // count(vecCol), not count(*): array_sum_agg skips null vectors, so
    // the denominator must too (matches the posexplode/avg twin, where
    // exploding a null produced no rows)
    embeddings
      .groupBy(col(labelCol))
      .agg(call_function("array_sum_agg", col(vecCol)).as("__s"),
        count(col(vecCol)).as("__n"))
      .select(col(labelCol),
        transform(col("__s"), x => round(x / col("__n"), roundTo))
          .as("centroid"))
  }

  /** Deterministic k-means centroids for IVF cells: seed with the k
    * lowest-id vectors, run `iters` Lloyd iterations (assign to nearest →
    * recompute rounded means). Each iteration is one broadcast pass +
    * one shuffle on cell id — the MLlib-style 100-TB shape. Rounding the
    * means (3 decimals) keeps assignment decisions reproducible across
    * engines and partition orders.
    *
    * Label-partition centroids (`centroids`) capture whatever structure
    * the labels have; on weakly-labelled data the refined cells improve
    * recall@10 by ~25 points at the same probe budget (pinned by the
    * "IVF recall@10" test in OpsSpec.scala).
    */
  def kmeansCentroids(embeddings: DataFrame, vecCol: String, idCol: String,
      k: Int, iters: Int = 3, roundTo: Int = 3): DataFrame = {
    graft.expr.GraftFunctions.register(embeddings.sparkSession)
    // cache the vectors across the seed scan + Lloyd passes (the standard
    // k-means shape — MLlib does the same): without it every iteration
    // re-scans the source, which at 100 TB is `iters` extra full reads.
    // Released before returning; the result below is already materialized
    // locally.
    val vecs = embeddings.select(col(idCol), col(vecCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val seeds = vecs
      .orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("c_label"),
        transform(col(vecCol), x => round(x.cast("double"), roundTo))
          .as("centroid"))
    try {
      val refined = (1 to iters).foldLeft(seeds) { (cents, _) =>
        centroidRanks(vecs, vecCol, idCol, cents, 1)
          .groupBy("c_label")
          .agg(call_function("array_sum_agg", col(vecCol)).as("__s"),
            count(col(vecCol)).as("__n"))
          .select(col("c_label"),
            transform(col("__s"), x => round(x / col("__n"), roundTo))
              .as("centroid"))
      }
      // materialize the <= k result rows into a LOCAL relation: consumers
      // (centroidRanks) collect the centroid table anyway, and a local
      // relation leaves nothing pinned in the executor cache — the old
      // .cache() leaked one cached DF + Lloyd lineage per invocation in a
      // long-lived session
      val spark = embeddings.sparkSession
      val rows = refined.collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), refined.schema)
    } finally vecs.unpersist(false)
  }

  // SESSION-FREE cache: plain collected rows + schema (≤ k tiny rows per
  // entry), never a DataFrame — a cached DataFrame strongly references its
  // SparkSession, which is exactly the value→key strong reference that
  // defeated the previous WeakHashMap-keyed design and pinned stopped
  // sessions in memory. Bounded LRU (access-order) so a long-lived JVM
  // serving many corpora cannot grow without limit. Session-freedom is
  // proven behaviorally in SimilaritySpec: a second session hits the
  // cache with zero rebuilds (the per-session design rebuilt), and
  // eviction really evicts.
  private[graft] var maxCachedIndexes = 64 // test seam: shrink to force eviction
  private[graft] val indexBuildCount = new java.util.concurrent.atomic.AtomicLong
  private val indexCache = new Memo.Lru[String,
    (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)](
    maxCachedIndexes)

  /** Memoized IVF index build — the pipeline-stage separation a real
    * system has between index BUILD and query: the k-means centroid table
    * for a given (cacheKey, vecCol, idCol, k, iters, input content) is
    * computed once per JVM and reused by every subsequent query (any
    * session — the cached value is session-free data), so repeated
    * searches stop paying the Lloyd passes. cacheKey should identify the
    * corpus (e.g. its directory).
    *
    * idCol participates in the key because seeding takes the k LOWEST-id
    * vectors — a different id column is a different index. The input's
    * content is [[Memo.of]]: its plan (a filtered slice of a corpus is a
    * different index than the whole), its files' listing fingerprint (an
    * in-place rewrite is a new key) and any in-memory rows.
    */
  def kmeansIndex(embeddings: DataFrame, vecCol: String, idCol: String,
      k: Int, cacheKey: String, iters: Int = 3): DataFrame = {
    val key = Memo.key(cacheKey, vecCol, idCol, k, iters, Memo.of(embeddings))
    val (rows, schema) = indexCache(key) {
      indexBuildCount.incrementAndGet()
      val df = kmeansCentroids(embeddings, vecCol, idCol, k, iters)
      (df.collect(), df.schema) // local relation: collect is free
    }
    embeddings.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** Test seam: drop every memoized index (e.g. between benchmark runs). */
  def clearIndexCache(): Unit = indexCache.clear()

  /** Rank centroids per vector by squared L2 (rounded for cross-engine
    * tie stability, then centroid label as tiebreak): the posexploded
    * `centroidRankCells` array, one row per (vector, rank <= maxRank).
    * No crossJoin row blow-up, no window, no Exchange — at 100 TB a
    * window form would shuffle cells x the embedding table to rank
    * against a handful of rows.
    * Output: input columns + (d2, c_label, rk). A null vector ranks to
    * null and an empty centroid table to an empty array, so neither
    * yields a row.
    *
    * NOTE: the centroid collect means building this DataFrame RUNS a
    * Spark job (plan construction is eager on `cents`).
    */
  def centroidRanks(vectors: DataFrame, vecCol: String, idCol: String,
      cents: DataFrame, maxRank: Int): DataFrame =
    vectors
      .select(col("*"),
        posexplode(centroidRankCells(vectors, vecCol, cents, maxRank))
          .as(Seq("__rk0", "__s")))
      .withColumn("d2", col("__s.d2"))
      .withColumn("c_label", col("__s.c_label"))
      .withColumn("rk", (col("__rk0") + 1).cast("int"))
      .drop("__rk0", "__s")

  /** The non-exploded form of `centroidRanks`: the `maxRank` nearest
    * centroids of `vecCol` as one sorted array<struct<d2, c_label>>
    * Column over `vectors` — the codegen'd `nearest_cells` kernel
    * (graft.expr.NearestCells) against the collected centroid table, so
    * consumers that need SEVERAL rank slices per vector (ivfClosestPair's
    * probe + sub-split cells) evaluate the ranking once instead of
    * re-exploding. Its decisions are the HOF ranking
    * `slice(array_sort(transform(cents, c => struct(round(l2sq(v, c._2),
    * 6), c._1))), 1, maxRank)` (pinned in SimilaritySpec and
    * NearestCellsProps).
    */
  def centroidRankCells(vectors: DataFrame, vecCol: String,
      cents: DataFrame, maxRank: Int): Column = {
    graft.expr.GraftFunctions.register(vectors.sparkSession)
    call_function("nearest_cells", col(vecCol), centsLiteral(cents),
      lit(maxRank))
  }

  /** The collected centroid table as ONE typed Literal Column (empty,
    * of the label's type, for an empty table). Not a CreateArray tree of
    * cells x dims literal nodes: the per-element form made every consumer
    * pay seconds of analyzer/codegen work on a ~1600-node constant
    * subtree (measured: sim2 cold 3.9 s -> the plan, not the data).
    */
  private def centsLiteral(cents: DataFrame): Column = {
    val rows = cents
      .select(col(cents.columns.head).as("c_label"), col("centroid"))
      .collect()
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    cents.schema.head.dataType match {
      case StringType => typedLit(rows.map(r =>
        (r.getString(0), r.getSeq[Double](1).toSeq)))
      case LongType => typedLit(rows.map(r =>
        (r.getLong(0), r.getSeq[Double](1).toSeq)))
      case IntegerType => typedLit(rows.map(r =>
        (r.getInt(0), r.getSeq[Double](1).toSeq)))
      case t => throw new IllegalArgumentException(
        s"unsupported centroid label type ${t.sql}")
    }
  }

  /** IVF assignment: nearest centroid per embedding. */
  def assignToCentroids(embeddings: DataFrame, vecCol: String, idCol: String,
      cents: DataFrame): DataFrame =
    centroidRanks(embeddings, vecCol, idCol, cents, 1)
      .select(col(idCol), col("c_label").as("assigned"))

  /** IVF top-k search: candidates live in their nearest centroid's bucket;
    * each query probes its `nProbe` nearest buckets and ranks only those
    * candidates — a shuffle-on-bucket join, never an all-pairs crossJoin.
    * bruteTopK stays as the recall oracle (test suite pins recall@k).
    */
  def ivfTopK(
      queries: DataFrame, candidates: DataFrame, cents: DataFrame,
      k: Int, nProbe: Int = 2,
      qId: String = "q_id", cId: String = "c_id",
      qVec: String = "q_vec", cVec: String = "c_vec"): DataFrame = {
    graft.expr.GraftFunctions.register(candidates.sparkSession)
    val cand = centroidRanks(candidates, cVec, cId, cents, 1)
      .select(col(cId), col(cVec), col("c_label"))
    val qry = centroidRanks(queries, qVec, qId, cents, nProbe)
      .select(col(qId), col(qVec), col("c_label"))
    // candidates on the LEFT: both sides are the same ranking over the
    // same scan, so their static size estimates tie, and a tie builds
    // the right side — here the (small) query side
    val joined = cand.join(qry, "c_label")
      .withColumn("sim", round(cosineFast(col(qVec), col(cVec)), 6))
    topKReduce(joined, qId, cId, k)
  }
}
