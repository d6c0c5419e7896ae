package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Unit suites over tiny literal DataFrames + sf0.001/sf0.01 fixtures for
  * the relational operators (SURVEY.md §5 items 3-5).
  */
class JoinsSpec extends SparkSpec {
  import spark.implicits._

  test("positional join addresses the COMPACTED post-anti-join sequence") {
    // reference semantics (point3d_transformation.py:148-156): drop missing
    // keys, THEN index by position — python equivalent:
    //   filtered = [k for k in base if k not in missing]; filtered[idx]
    val base = (0L to 9L).toDF("k")
    val missing = Seq(2L, 5L)
    val filteredScala = (0L to 9L).filterNot(missing.contains)
    val lookups = Seq(0L, 3L, 7L).toDF("idx0")
    val out = Joins.positionalJoin(base, "k", missing, lookups, col("idx0"))
      .select("idx0", "k").as[(Long, Long)].collect().toMap
    Seq(0, 3, 7).foreach { i =>
      assert(out(i.toLong) == filteredScala(i),
        s"idx $i -> ${out(i.toLong)} want ${filteredScala(i)}")
    }
  }

  test("dropKeys removes exactly the listed keys") {
    val base = (0L to 9L).toDF("k")
    val kept = Joins.dropKeys(base, "k", Seq(1L, 8L)).as[Long].collect().sorted
    assert(kept.toSeq == Seq(0L, 2L, 3L, 4L, 5L, 6L, 7L, 9L))
  }
}

class WindowsSpec extends SparkSpec {
  import spark.implicits._

  private def evTs(rows: Seq[(Long, Long)]) =
    rows.toDF("event_id", "ts") // ts in nanos

  test("gapSessions flags a gap between two FULL groups") {
    val sec = 1000000000L
    // group0: t=0..4s (5 rows), group1: t=30..34s (5 rows) -> gap 26s > 12s
    val rows = (0L to 4L).map(i => (i, i * sec)) ++
      (5L to 9L).map(i => (i, (25 + i) * sec))
    val out = Windows.gapSessions(evTs(rows), "event_id", "ts")
      .select("group_id", "gap_ns").collect()
    assert(out.length == 1 && out(0).getLong(0) == 0L)
  }

  test("a partial trailing group is never gap-checked (reference parity)") {
    val sec = 1000000000L
    // group0 full, group1 has only 3 rows far in the future
    val rows = (0L to 4L).map(i => (i, i * sec)) ++
      (5L to 7L).map(i => (i, (1000 + i) * sec))
    val out = Windows.gapSessions(evTs(rows), "event_id", "ts").collect()
    assert(out.isEmpty, "partial next group must not produce a gap row")
  }

  test("scale-safe numbering path returns identical gaps on sf0.001") {
    val ev = Tables.events(spark, sf("sf0.001"))
      .withColumn("ts", expr("ts div 1000 * 1000"))
    val a = Windows.gapSessions(ev, "event_id", "ts")
    val b = Windows.gapSessionsScalable(ev, "event_id", "ts")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    assert(a.count() > 0, "sf0.001 should contain gaps at 12s threshold")
    // the twin exists to avoid single-task windows — its whole plan
    // (numbering AND the next-group pairing) must be window-free
    val p = b.queryExecution.executedPlan.toString
    assert(!p.contains("Window"),
      s"scale twin reintroduced a window:\n${p.take(1200)}")
  }

  test("withGlobalRowNumbers equals window row_number") {
    val df = Tables.supplier(spark, sf("sf0.001"))
    val viaRdd = Windows.withGlobalRowNumbers(df, "s_suppkey")
      .select(col("s_suppkey"), col("rn0"))
    val viaWindow = df.select(col("s_suppkey"),
      (row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("s_suppkey"))) - 1).cast("long").as("rn0"))
    assert(viaRdd.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaRdd).isEmpty)
  }

  test("withGlobalRowNumbersBy breaks leading-column ties deterministically") {
    import spark.implicits._
    // duplicate names across 8 partitions: a single-column order would
    // number the ties in run-dependent positions; the unique tie-break
    // must reproduce the window form exactly
    val df = (1L to 400L).map(i => (i, s"name_${i % 7}")).toDF("k", "name")
      .repartition(8)
    val viaRdd = Windows.withGlobalRowNumbersBy(df, Seq("name", "k"))
      .select(col("k"), (col("rn0") + 1).as("ord"))
    val viaWindow = df.select(col("k"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("name"), col("k"))).cast("long").as("ord"))
    assert(viaRdd.exceptAll(viaWindow).isEmpty &&
      viaWindow.exceptAll(viaRdd).isEmpty)
  }

  test("withGlobalRowNumbers persists the sort once and can release it") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val numbered = Windows.withGlobalRowNumbers(
      Tables.supplier(spark, sf("sf0.001")), "s_suppkey")
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "sorted RDD must be persisted (single range sort)")
    assert(numbered.count() > 0)
    Caches.releaseAll(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((added -- after) == added, "releaseAll must release the sort cache")
  }
}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exactDedup keeps the smallest id per content group") {
    val docs = Seq((1L, "aa bb"), (2L, "cc"), (5L, "aa bb"), (9L, "cc"),
      (3L, "unique")).toDF("doc_id", "text")
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .select("keep_id", "dup_count").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 1L))
  }

  test("nearDupCandidates finds a planted near-duplicate pair") {
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the patient cat watches from the old wooden fence nearby"
    val nearDup = base + " quietly" // one appended token: ~95% shared shingles
    val noise = (0 until 30).map(i =>
      (100L + i, s"totally different content number $i with words w$i x$i y$i z$i"))
    val docs = (Seq((1L, base), (2L, nearDup)) ++ noise).toDF("doc_id", "text")
    val pairs = Dedup.nearDupCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"planted pair missing; got $pairs")
  }

  test("candidate pairs << n^2 on sf0.01 documents") {
    val docs = Tables.documents(spark, sf("sf0.01"))
    val n = docs.count()
    val pairs = Dedup.nearDupCandidates(docs, "doc_id", "text").count()
    assert(pairs < n * (n - 1) / 2 / 100,
      s"$pairs candidate pairs vs ${n * (n - 1) / 2} possible — banding broken?")
  }

  // Shared dup-heavy fixture for the set/signature-level equivalence
  // pins: 4 exact-dup clusters of 5 (intra pairs), near-dup variants of
  // two clusters (inter pairs), and unique noise (degenerate case).
  private def dupHeavyCorpus = {
    val bases = Seq(
      "the quick brown fox jumps over the lazy dog near the old fence",
      "pack my box with five dozen liquor jugs before the night train",
      "sphinx of black quartz judge my vow said the tired museum guard",
      "how vexingly quick daft zebras jump when the keeper rattles feed")
    val clusters = bases.zipWithIndex.flatMap { case (t, c) =>
      (0 until 5).map(j => (c * 100L + j, t)) }
    val nearDups = Seq((500L, bases(0) + " yesterday"),
      (501L, bases(1) + " tonight"))
    val noise = (0 until 20).map(i =>
      (600L + i, s"completely unrelated filler document $i holding t$i u$i v$i"))
    (clusters ++ nearDups ++ noise).toDF("doc_id", "text")
  }

  test("signature-level candidates equal doc-level banding") {
    val docs = dupHeavyCorpus
    val setLevel = Dedup.nearDupCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    // the doc-level reference path: per-doc shingles straight into the
    // band self-join (nearDupCandidatesFromShingles)
    val sh = docs
      .select(col("doc_id"), TextOps.tokensLower(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), TextOps.shinglesFast(col("tk"), 3).as("shingles"))
    val docLevel = Dedup.nearDupCandidatesFromShingles(sh, "doc_id", "shingles")
      .as[(Long, Long)].collect().toSet
    assert(setLevel == docLevel,
      s"missing=${docLevel -- setLevel} extra=${setLevel -- docLevel}")
    assert(setLevel.exists { case (a, b) => a / 100 == b / 100 && a < 100 * 4 },
      "fixture lost its intra-cluster pairs")
  }

  test("adaptive near-dup path: rep-level on dup-heavy, doc-level on unique") {
    import spark.implicits._
    // dup-heavy corpus → the set-level (groupReps) plan
    val before = Dedup.repPathCount.get()
    Dedup.nearDupCandidates(dupHeavyCorpus, "doc_id", "text").count()
    assert(Dedup.repPathCount.get() == before + 1,
      "dup-heavy corpus must take the rep-level path")
    // all-unique corpus (distinct signatures ≈ doc count — the
    // datagen_lowdup.py worst case) → doc-level banding directly, and
    // the result must equal the doc-level reference exactly
    val uniq = (0 until 300).map { i =>
      (i.toLong, (0 until 12).map(j => s"w${i}x$j").mkString(" "))
    }.toDF("doc_id", "text")
    val b2 = Dedup.repPathCount.get()
    val got = Dedup.nearDupCandidates(uniq, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(Dedup.repPathCount.get() == b2,
      "all-unique corpus must take the doc-level path")
    val sh = uniq
      .select(col("doc_id"), TextOps.tokensLower(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), TextOps.shinglesFast(col("tk"), 3).as("shingles"))
    val ref = Dedup.nearDupCandidatesFromShingles(sh, "doc_id", "shingles")
      .as[(Long, Long)].collect().toSet
    assert(got == ref, s"missing=${ref -- got} extra=${got -- ref}")

    // t8's twin decision: jaccardVerifiedPairs on the same corpora.
    // Dup-heavy → rep path (counter moves); all-unique → doc path, and
    // the doc-level Jaccard must equal the Scala-side exact reference
    // per candidate pair.
    val b3 = Dedup.repPathCount.get()
    val dupJac = Dedup.jaccardVerifiedPairs(dupHeavyCorpus, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(Dedup.repPathCount.get() == b3 + 1,
      "dup-heavy jaccardVerifiedPairs must take the rep-level path")
    assert(dupJac.exists(_._3 == 1.0), "fixture lost its exact-dup pairs")
    val b4 = Dedup.repPathCount.get()
    val uniqJac = Dedup.jaccardVerifiedPairs(uniq, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(Dedup.repPathCount.get() == b4,
      "all-unique jaccardVerifiedPairs must take the doc-level path")
    assert(uniqJac.keySet == ref, "doc-level pair set drifted from candidates")
    val sets = uniq.select(col("doc_id"),
        array_distinct(TextOps.shinglesFast(
          TextOps.tokensLower(col("text")), 3)).as("shset"))
      .as[(Long, Seq[String])].collect().toMap
    uniqJac.foreach { case ((a, b), j) =>
      val (sa, sb) = (sets(a).toSet, sets(b).toSet)
      val want = BigDecimal(sa.intersect(sb).size.toDouble / sa.union(sb).size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(j - want) < 1e-9, s"pair ($a,$b): got $j want $want")
    }
  }

  test("jaccardVerifiedPairs equals per-pair exact Jaccard over doc-level candidates") {
    val docs = dupHeavyCorpus
    val got = Dedup.jaccardVerifiedPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    // reference: doc-level candidates + Scala-side exact shingle-set
    // Jaccard (corpus is small enough to collect)
    val sets = docs.select(col("doc_id"),
        array_distinct(TextOps.shinglesFast(TextOps.tokensLower(col("text")), 3))
          .as("shset"))
      .filter(size(col("shset")) > 0)
      .as[(Long, Seq[String])].collect().toMap
    val sh = docs
      .select(col("doc_id"), TextOps.tokensLower(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), TextOps.shinglesFast(col("tk"), 3).as("shingles"))
    val cand = Dedup.nearDupCandidatesFromShingles(sh, "doc_id", "shingles")
      .as[(Long, Long)].collect()
    assert(got.keySet == cand.toSet,
      s"pair sets differ: missing=${cand.toSet -- got.keySet} extra=${got.keySet -- cand.toSet}")
    cand.foreach { case (a, b) =>
      val (sa, sb) = (sets(a).toSet, sets(b).toSet)
      val want = BigDecimal(sa.intersect(sb).size.toDouble / sa.union(sb).size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(got((a, b)) - want) < 1e-9,
        s"pair ($a,$b): got ${got((a, b))} want $want")
    }
  }

  test("simhashNearDup banded join equals brute-force Hamming<=3 (sf0.001)") {
    import org.apache.spark.sql.functions._
    // pigeonhole exactness: the 4x16-bit banded join must find EXACTLY the
    // pairs a full all-pairs Hamming scan finds — banding loses nothing
    val docs = Tables.documents(spark, sf("sf0.001"))
    val banded = Dedup.simhashNearDup(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    val fp = docs
      .select(col("doc_id"), TextOps.tokensLower(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), TextOps.simhash64(col("tk")).as("sh"))
      .withColumn("hi", conv(substring(col("sh"), 1, 32), 2, 10).cast("long"))
      .withColumn("lo", conv(substring(col("sh"), 33, 32), 2, 10).cast("long"))
    val a = fp.select(col("doc_id").as("doc_a"), col("hi").as("hia"),
      col("lo").as("loa"))
    val b = fp.select(col("doc_id").as("doc_b"), col("hi").as("hib"),
      col("lo").as("lob"))
    val brute = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(col("hia").bitwiseXOR(col("hib"))) +
          bit_count(col("loa").bitwiseXOR(col("lob"))))
          .cast("bigint").as("hamming"))
      .filter(col("hamming") <= 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(banded == brute,
      s"banded != brute: only-banded=${banded -- brute} only-brute=${brute -- banded}")
  }

  test("simhash64Fast long equals the HOF bit string on sf0.001") {
    import org.apache.spark.sql.functions._
    graft.expr.GraftFunctions.register(spark)
    val rows = Tables.documents(spark, sf("sf0.001"))
      .select(col("doc_id"), TextOps.tokensLower(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(
        lpad(bin(TextOps.simhash64Fast(col("tk"))), 64, "0").as("fast"),
        TextOps.simhash64(col("tk")).as("hof"))
      .as[(String, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (f, h) => assert(f == h, s"fast $f != hof $h") }
  }

  test("simhash64 bit order matches conv of the md5 halves (single token)") {
    import org.apache.spark.sql.functions._
    // one token: simhash of {t} is exactly the bit pattern of md5(t)'s
    // first 16 hex chars (each 1-bit majority is the bit itself)
    val df = Seq("hello", "graft", "x").toDF("t")
      .select(col("t"), TextOps.simhash64(array(col("t"))).as("sh"),
        md5(col("t")).as("h"))
      .select(col("sh"),
        lpad(conv(substring(col("h"), 1, 8), 16, 2), 32, "0").as("hi"),
        lpad(conv(substring(col("h"), 9, 8), 16, 2), 32, "0").as("lo"))
      .as[(String, String, String)].collect()
    df.foreach { case (sh, hi, lo) =>
      assert(sh == hi + lo, s"bit order drift: $sh vs $hi$lo")
    }
  }
}

class SimilaritySpec extends SparkSpec {

  test("nearest_cell rank-1 path == sorted-HOF ranking exactly (incl. ties)") {
    // centroidRanks ranks every maxRank with the codegen'd nearest_cells
    // kernel (expr/NearestCells). This pins it, at ranks 1, 2 and 8, to
    // the reference ranking built from Similarity.l2sq (cross join,
    // round-6 d2, row_number over (d2, c_label)) on (a) engineered exact
    // ties (duplicate centroid positions under different labels) and
    // (b) the real embeddings corpus with int labels.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val S = graft.ops.Similarity
    def reference(vecs: DataFrame, cents: DataFrame, maxRank: Int) =
      vecs.crossJoin(cents.toDF("c_label", "centroid"))
        .withColumn("d2", round(S.l2sq(col("embedding"), col("centroid")), 6))
        .withColumn("rk", row_number().over(
          Window.partitionBy("vec_id").orderBy(col("d2"), col("c_label"))))
        .filter(col("rk") <= maxRank)
        .select("vec_id", "d2", "c_label", "rk")
    def kernel(vecs: DataFrame, cents: DataFrame, maxRank: Int) =
      S.centroidRanks(vecs, "embedding", "vec_id", cents, maxRank)
        .select("vec_id", "d2", "c_label", "rk")
    def same(a: DataFrame, b: DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    // (a) ties: labels 0..5 but only 3 distinct positions (id % 3), so
    // every vector ties two labels on d2 and the smaller label must win
    val vecs = spark.range(0, 200).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        j => ((col("id") % 10) + j).cast("float")).as("embedding"))
    val tied = spark.range(0, 6).select(col("id").as("c_label"),
      transform(sequence(lit(0), lit(7)),
        j => ((col("id") % 3) + j).cast("double")).as("centroid"))
    // (b) real corpus, int labels via label-partition centroids
    val emb = graft.ops.Tables.embeddings(spark, sf("sf0.001"))
    val cents = S.centroids(emb, "embedding", "label")
    Seq(1, 2, 8).foreach { r =>
      assert(same(kernel(vecs, tied, r), reference(vecs, tied, r)),
        s"tie corpus: kernel and reference disagree at rank $r")
      assert(same(kernel(emb, cents, r), reference(emb, cents, r)),
        s"embeddings corpus: kernel and reference disagree at rank $r")
    }
    assert(kernel(vecs, tied, 1).filter(col("c_label") >= 3).isEmpty,
      "tie corpus: label-ascending tiebreak violated")
    // an empty centroid table ranks nothing (same columns, no rows)
    val none = kernel(vecs, tied.filter(lit(false)), 2)
    assert(none.columns.toSeq == Seq("vec_id", "d2", "c_label", "rk") &&
      none.isEmpty)
  }

  test("kmeansIndex cache is session-free, cross-session, and bounded") {
    // regression for the WeakHashMap-with-DataFrame-values cache, whose
    // value→key strong reference pinned every session that ever built an
    // index AND whose per-session keying rebuilt the index for each new
    // session. The cache now stores plain rows+schema keyed by corpus:
    // (a) a SECOND session must hit the first session's entry with ZERO
    // rebuilds — impossible if the cached value were session-bound;
    // (b) the LRU bound must really evict.
    // (A direct WeakReference-after-GC proof is not possible in local
    // mode: Spark pins every session that ran a job via executor-thread
    // InheritableThreadLocals, independent of this cache.)
    import org.apache.spark.sql.functions._
    def emb(s: org.apache.spark.sql.SparkSession) = s.range(0, 40)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(7)),
          j => (col("id") + j).cast("float")).as("embedding"))
    val S = graft.ops.Similarity
    S.clearIndexCache()
    val saveMax = S.maxCachedIndexes
    try {
      S.maxCachedIndexes = 2
      val b0 = S.indexBuildCount.get()
      val s2 = spark.newSession()
      val first = S.kmeansIndex(emb(s2), "embedding", "vec_id", 2,
        cacheKey = "gc-a")
      assert(first.count() == 2)
      assert(S.indexBuildCount.get() == b0 + 1)
      // different session, same corpus key: served from cache, no rebuild
      val again = S.kmeansIndex(emb(spark), "embedding", "vec_id", 2,
        cacheKey = "gc-a")
      assert(again.sparkSession eq spark)
      assert(again.count() == 2)
      assert(S.indexBuildCount.get() == b0 + 1,
        "cross-session call rebuilt: cached value is session-bound")
      // LRU bound: two more corpora evict gc-a; re-asking rebuilds
      S.kmeansIndex(emb(spark), "embedding", "vec_id", 2, cacheKey = "gc-b")
      S.kmeansIndex(emb(spark), "embedding", "vec_id", 2, cacheKey = "gc-c")
      assert(S.indexBuildCount.get() == b0 + 3)
      S.kmeansIndex(emb(spark), "embedding", "vec_id", 2, cacheKey = "gc-a")
      assert(S.indexBuildCount.get() == b0 + 4,
        "evicted entry served stale: LRU bound not enforced")
    } finally {
      S.maxCachedIndexes = saveMax
      S.clearIndexCache()
    }
  }

  test("embeddings parquet rewritten with the same file names bumps indexBuildCount") {
    // the index key carries the input's listing fingerprint (sizes and
    // mtimes, not only names): new bytes under an old file name rebuild
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, StandardCopyOption}
    def emb(shift: Int) = spark.range(0, 40)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(7)),
          j => (col("id") * (shift + 1) + j).cast("float")).as("embedding"))
    def part(d: java.nio.file.Path) = Files.list(d)
      .filter(_.getFileName.toString.startsWith("part-")).findFirst.get
    val S = graft.ops.Similarity
    val dir = Files.createTempDirectory("graft-emb-rewrite")
    val path = dir.resolve("embeddings.parquet")
    emb(0).coalesce(1).write.parquet(path.toString)
    val name = part(path).getFileName
    def index() = S.kmeansIndex(spark.read.parquet(path.toString),
      "embedding", "vec_id", 2, cacheKey = dir.toString)
      .orderBy("c_label").collect().toSeq
    val b0 = S.indexBuildCount.get()
    val first = index()
    index()
    assert(S.indexBuildCount.get() == b0 + 1)
    // rewrite: new bytes copied over the SAME part-file name
    Thread.sleep(5)
    val staging = dir.resolve("staging.parquet")
    emb(1).coalesce(1).write.parquet(staging.toString)
    Seq("" -> "", "." -> ".crc").foreach { case (pre, suf) =>
      Files.copy(staging.resolve(s"$pre${part(staging).getFileName}$suf"),
        path.resolve(s"$pre$name$suf"), StandardCopyOption.REPLACE_EXISTING)
    } // the part file and its checksum
    assert(part(path).getFileName == name)
    val second = index()
    assert(S.indexBuildCount.get() == b0 + 2,
      "an in-place rewrite was served the stale index")
    assert(second != first)
  }

  test("IVF recall@10 >= 0.9 vs brute force on sf0.01 embeddings") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val q = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    // 25 k-means cells, probe 8 (~32% of candidates scanned)
    val cents = Similarity.kmeansCentroids(emb, "embedding", "vec_id", 25)
    val brute = Similarity.bruteTopK(q, c, 10)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(q, c, cents, k = 10, nProbe = 8)
      .select("q_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall@10 = $recall")
  }

  test("ivfTopK plan has no cartesian product against the candidate set") {
    val emb = Tables.embeddings(spark, sf("sf0.01"))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val c = emb.select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
    val cents = Similarity.centroids(emb, "embedding", "label")
    val plan = Similarity.ivfTopK(q, c, cents, k = 10)
      .queryExecution.executedPlan.toString
    // the only broadcast-nested-loop allowed is vs the tiny centroid table;
    // the query-candidate match must be a real equi-join on the bucket
    assert(plan.contains("c_label"), "bucket join key missing from plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
  }

  test("dot/cosine: deterministic left-to-right fold") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)))
      .toDF("a", "b")
    val got = df.select(Similarity.dot(col("a"), col("b"))).collect()(0)
      .getDouble(0)
    assert(got == 32.0)
    val cos = df.select(Similarity.cosine(col("a"), col("a"))).collect()(0)
      .getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
  }
}

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  test("shingles guard: fewer than k tokens -> empty array, not garbage") {
    val df = Seq("one two", "one two three four").toDF("text")
      .select(TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
    val out = df.as[Seq[String]].collect()
    assert(out(0) == Seq())
    assert(out(1) == Seq("one two three", "two three four"))
  }

  test("charGrams guard: short text -> empty array") {
    val df = Seq("ab", "abcd").toDF("t")
      .select(TextOps.charGrams(col("t"), 3).as("g"))
    val out = df.as[Seq[String]].collect()
    assert(out(0) == Seq() && out(1) == Seq("abc", "bcd"))
  }

  test("token_stats matches the composed tokens/punct/len form on real docs") {
    graft.expr.GraftFunctions.register(spark)
    // edge strings cover: empty, whitespace-only (incl. non-space \s
    // chars), leading/trailing runs, multi-byte chars (😀 é — non-ASCII
    // counts as ONE punct char and token char, per the Java regexes),
    // and punctuation-adjacent tokens
    val docs = Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
      .limit(100)
      .union(Seq((9001L, ""), (9002L, "   "), (9003L, "\t\n\r\f"),
        (9004L, "  a  b  "), (9005L, "a,b.c!"), (9006L, "ab😀cd é x"),
        (9007L, "one"), (9008L, "-"), (9009L, "ab"))
        .toDF("doc_id", "text"))
    val fast = docs
      .withColumn("__ts", call_function("token_stats", col("text")))
      .select(col("doc_id"), col("__ts.n_tokens"), col("__ts.n_punct"),
        col("__ts.total_tok_len"))
    val composed = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("tk"), col("text"))
      .select(col("doc_id"),
        size(col("tk")).cast("bigint").as("n_tokens"),
        TextOps.punctCount(col("text")).cast("bigint").as("n_punct"),
        TextOps.totalTokenLen(col("tk")).cast("bigint").as("total_tok_len"))
    assert(fast.exceptAll(composed).isEmpty && composed.exceptAll(fast).isEmpty)
  }

  test("bpe_stats matches the composed regex/array_distinct form on real docs") {
    graft.expr.GraftFunctions.register(spark)
    // edges: empty, ws-only, runs split by case-insensitive letters vs
    // digits, repeated tokens (distinct < total), multi-byte code points
    // (one punct token each: 😀 is a single 4-byte token, é a 2-byte
    // one), and punctuation runs (each char its own token)
    val docs = Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
      .limit(100)
      .union(Seq((9001L, ""), (9002L, "   \t\n"), (9003L, "abc123def"),
        (9004L, "a,,b..a  a"), (9005L, "ab😀cd é 😀"), (9006L, "42"),
        (9007L, "A1b2C3"), (9008L, "!!!"), (9009L, "word word word"))
        .toDF("doc_id", "text"))
    val fast = docs
      .withColumn("__bs", call_function("bpe_stats", col("text")))
      .select(col("doc_id"), col("__bs.n_bpe"), col("__bs.n_bpe_distinct"))
    val composed = docs
      .select(col("doc_id"), TextOps.bpeTokens(col("text")).as("bpe"))
      .select(col("doc_id"),
        size(col("bpe")).cast("bigint").as("n_bpe"),
        size(array_distinct(col("bpe"))).cast("bigint").as("n_bpe_distinct"))
    assert(fast.exceptAll(composed).isEmpty && composed.exceptAll(fast).isEmpty)
  }

  test("t2 predicate: rlike \\S is exactly n_tokens > 0 (Java \\s set)") {
    graft.expr.GraftFunctions.register(spark)
    // the t2 filter must match the oracle's len(tk) > 0, i.e. the
    // tokenizer's own whitespace set — including the non-space \s chars
    // that trim() misses (\t \n \x0B \f \r) — on every edge string
    val docs = Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
      .limit(100)
      .union(Seq((9001L, ""), (9002L, "   "), (9003L, "\t\n\r\f"),
        (9004L, "\u000B"), (9005L, " \t x \n "), (9006L, "a"),
        (9007L, "\r\r\r"), (9008L, "😀")).toDF("doc_id", "text"))
    val viaRlike = docs.filter(col("text").rlike("\\S")).select("doc_id")
    val viaTokens = docs
      .filter(call_function("token_stats", col("text")).getField("n_tokens") > 0)
      .select("doc_id")
    assert(viaRlike.exceptAll(viaTokens).isEmpty &&
      viaTokens.exceptAll(viaRlike).isEmpty)
  }

  test("chargram_distinct matches size(array_distinct(charGrams)) on real docs") {
    graft.expr.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
      .limit(100)
      .union(Seq((9001L, ""), (9002L, "ab"), (9003L, "abc"),
        (9004L, "aaaa"), (9005L, "ab😀cd😀ab")).toDF("doc_id", "text"))
      .select(col("doc_id"), TextOps.normalized(col("text")).as("norm"))
    val fast = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.call_function(
        "chargram_distinct", col("norm"), lit(3)).as("n"))
    val hof = docs.select(col("doc_id"),
      size(array_distinct(TextOps.charGrams(col("norm"), 3))).as("n"))
    assert(fast.exceptAll(hof).isEmpty && hof.exceptAll(fast).isEmpty)
  }

  test("winnow_fp matches the HOF twin on real documents + edge strings") {
    graft.expr.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sf("sf0.001")).select("doc_id", "text")
      .limit(50)
      .union(Seq((9001L, ""), (9002L, "short"), (9003L, "exactly8"),
        (9004L, "elevenchars"), (9005L, "aaaaaaaaaaaaaaaa"),
        (9006L, "abababababababab")).toDF("doc_id", "text"))
    val fast = docs.select(col("doc_id"),
      TextOps.winnowFingerprintsFast(col("text"), 8, 4).as("fp"))
    val hof = docs.select(col("doc_id"),
      TextOps.winnowFingerprintsHof(col("text"), 8, 4).as("fp"))
    assert(fast.exceptAll(hof).isEmpty && hof.exceptAll(fast).isEmpty,
      "codegen'd rolling fingerprint must equal the HOF form")
  }

  test("winnow_fp: uniform text collapses to one fingerprint; short text none") {
    graft.expr.GraftFunctions.register(spark)
    // 12 'a's, k=8: every k-gram hash = 97 * (31^8-1)/30; one distinct min
    val expectHash = (0 until 8).foldLeft(0L)((acc, _) => acc * 31 + 'a')
    val out = Seq("aaaaaaaaaaaa", "tooshort").toDF("t")
      .select(TextOps.winnowFingerprintsFast(col("t"), 8, 4).as("fp"))
      .as[Seq[Long]].collect()
    assert(out(0) == Seq(expectHash), s"${out(0)} vs $expectHash")
    assert(out(1) == Seq())
  }

  test("simhash32 matches a slow reference implementation") {
    def slowSimhash(tokens: Seq[String]): String = {
      val counts = new Array[Int](32)
      tokens.foreach { t =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(t.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(8)
        val h = java.lang.Long.parseLong(hex, 16)
        for (j <- 0 until 32) {
          val bit = ((h >> (31 - j)) & 1L).toInt
          counts(j) += bit * 2 - 1
        }
      }
      counts.map(c => if (c > 0) "1" else "0").mkString
    }
    val toks = Seq("hello", "world", "spark", "hello")
    val got = Seq(toks).toDF("tk")
      .select(TextOps.simhash32(col("tk"))).collect()(0).getString(0)
    assert(got == slowSimhash(toks))
  }

  test("simhash32_bits (codegen) equals the HOF simhash32 on real docs") {
    graft.expr.GraftFunctions.register(spark)
    val docs = graft.ops.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), TextOps.tokensLower(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
    val n = docs
      .select(TextOps.simhash32(col("tk")).as("hof"),
        call_function("simhash32_bits", col("tk")).as("cg"))
      .filter(col("hof") =!= col("cg")).count()
    assert(n == 0, s"$n docs disagree between HOF and codegen simhash32")
  }

  test("codegen'd word_shingles matches the HOF form (incl. guard)") {
    graft.expr.GraftFunctions.register(spark)
    val texts = Seq("one two", "one two three four",
      "the quick brown fox jumps over the lazy dog", "", "solo")
    val df = texts.toDF("text")
      .select(
        TextOps.shingles(TextOps.tokensLower(col("text")), 3).as("hof"),
        TextOps.shinglesFast(TextOps.tokensLower(col("text")), 3).as("fast"))
    df.as[(Seq[String], Seq[String])].collect().foreach { case (h, f) =>
      assert(h == f, s"shingle mismatch: $h vs $f")
    }
  }

  test("codegen'd minhash_sig matches the HOF form value-for-value") {
    graft.expr.GraftFunctions.register(spark)
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "a b c d e f g h i j k l m n o p",
      "hello world hello world hello world")
    val df = texts.toDF("text")
      .select(TextOps.shinglesFast(TextOps.tokensLower(col("text")), 3).as("sh"))
      .select(
        TextOps.minhashSignatureHof(col("sh"), 8).as("hof"),
        TextOps.minhashSignatureFast(col("sh"), 8).as("fast"))
    df.as[(Seq[Long], Seq[Long])].collect().foreach { case (h, f) =>
      assert(h == f, s"signature mismatch: $h vs $f")
    }
  }

  test("minhash_sig of an empty shingle array yields k nulls (array_min parity)") {
    graft.expr.GraftFunctions.register(spark)
    val row = Seq(Seq.empty[String]).toDF("sh")
      .select(TextOps.minhashSignatureFast(col("sh"), 4).as("sig"))
      .collect()(0).getSeq[Any](0)
    assert(row == Seq(null, null, null, null))
  }
}

class AggsSpec extends SparkSpec {
  import spark.implicits._

  test("grandStats matches hand-computed values (stddev_pop, median, rmse)") {
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("e")
    val stats = Aggs.grandStats(col("e"))
    val r = df.agg(stats.head, stats.tail: _*).collect()(0)
    assert(r.getDouble(0) == 2.5) // mean
    assert(math.abs(r.getDouble(1) - math.sqrt(1.25)) < 1e-6) // pop std
    assert(r.getDouble(2) == 4.0 && r.getDouble(3) == 1.0)
    assert(r.getDouble(4) == 2.5) // median
    assert(math.abs(r.getDouble(5) - math.sqrt(7.5)) < 1e-6) // rmse
  }

  test("twoLevelMean: per-group then global") {
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0)).toDF("g", "v")
    val r = Aggs.twoLevelMean(df, "g", "v").collect()(0)
    assert(r.getDouble(0) == 6.0) // mean of {2, 10}
    assert(r.getLong(2) == 2L)
  }

  test("array_sum_agg column-wise mean equals the posexplode form") {
    graft.expr.GraftFunctions.register(spark)
    val emb = Tables.embeddings(spark, sf("sf0.001"))
    val viaAgg = emb
      .agg(org.apache.spark.sql.functions.call_function(
        "array_sum_agg", col("embedding")).as("s"), count(lit(1)).as("n"))
      .select(posexplode(transform(col("s"), x => round(x / col("n"), 6)))
        .as(Seq("pos", "mean_v")))
    val viaExplode = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "v0")))
      .select(col("pos"), col("v0").cast("double").as("v"))
      .groupBy("pos")
      .agg(round(avg("v"), 6).as("mean_v"))
    assert(viaAgg.exceptAll(viaExplode).isEmpty &&
      viaExplode.exceptAll(viaAgg).isEmpty)
  }

  test("array_sum_agg: null vectors and empty arrays are order-independent skips") {
    graft.expr.GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.call_function
    def mean(rows: Seq[Option[Seq[Double]]]): Seq[Double] =
      rows.toDF("v")
        .agg(call_function("array_sum_agg", col("v")).as("s"),
          count(col("v")).as("n"))
        .select(transform(col("s"), x => x / col("n")).as("m"))
        .as[Seq[Double]].collect()(0)
    // a null vector must not inflate the denominator
    assert(mean(Seq(Some(Seq(2.0, 4.0)), None)) == Seq(2.0, 4.0))
    // empty arrays are skipped by the SUM in either arrival order (the
    // buffer's empty state doubles as uninitialized — this pins that an
    // early empty row doesn't wedge the buffer at length 0 and a late
    // one doesn't throw)
    def sum(rows: Seq[Seq[Double]]): Seq[Double] =
      rows.toDF("v")
        .agg(call_function("array_sum_agg", col("v")).as("s"))
        .as[Seq[Double]].collect()(0)
    assert(sum(Seq(Seq.empty, Seq(3.0))) == Seq(3.0))
    assert(sum(Seq(Seq(3.0), Seq.empty)) == Seq(3.0))
  }

  test("approxCounts stays within the configured relative error") {
    val ev = Tables.events(spark, sf("sf0.01"))
    val r = Aggs.approxCounts(ev, Seq("user_id", "event_type")).collect()(0)
    assert(r.getAs[Long]("n_rows") == 10000L)
    val users = r.getAs[Long]("approx_user_id")
    assert(math.abs(users - 150L) <= 150 * 0.05, s"approx users $users")
    val types = r.getAs[Long]("approx_event_type")
    assert(types >= 1 && math.abs(types - 4) <= 2, s"approx types $types")
  }
}

class SideEffectSinkSpec extends SparkSpec {
  import spark.implicits._

  test("foreachSink delivers (path, payload) pairs to the writer (S7)") {
    // the writer callback runs on executors; observe through the shared
    // local filesystem (local mode)
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-s7").toString
    val df = Seq(("a.jpg", Array[Byte](1, 2)), ("b.jpg", Array[Byte](3)))
      .toDF("path", "content")
    graft.ops.Sinks.foreachSink(df, "path", "content") { (p, bytes) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(outDir, p), bytes)
      ()
    }
    val written = new java.io.File(outDir).listFiles.map(f =>
      f.getName -> f.length).toMap
    assert(written == Map("a.jpg" -> 2L, "b.jpg" -> 1L), s"got $written")
  }
}

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("binaryPrefixScan == binaryFile content prefix, bounded per file (S3)") {
    val dir = sf("sf0.001")
    // truth from the whole-file reader (fixture files are all small)
    val whole = graft.ops.Sources.binaryScan(spark, dir)
      .select(col("path"), col("length"), col("content"))
      .as[(String, Long, Array[Byte])].collect()
      .map { case (p, l, c) => p -> ((l, c)) }.toMap
    // maxBytes smaller than every fixture file => every prefix truncates,
    // exercising the bounded positional read (not the n == length case)
    val max = 64
    val pre = graft.ops.Sources.binaryPrefixScan(spark, dir, None, max)
      .as[(String, Long, Array[Byte])].collect()
    assert(pre.length == whole.size && pre.nonEmpty)
    pre.foreach { case (p, l, buf) =>
      val (wl, wc) = whole(p)
      assert(l == wl, s"$p length $l want $wl")
      assert(buf.length == math.min(wl, max.toLong).toInt, s"$p prefix len")
      assert(java.util.Arrays.equals(buf, wc.take(buf.length)),
        s"$p prefix bytes differ from whole-file read")
    }
  }

  test("binaryPrefixScan respects the glob and matches binaryScan's listing") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-psc")
    java.nio.file.Files.write(tmp.resolve("empty.bin"), Array[Byte]())
    java.nio.file.Files.write(tmp.resolve("tiny.bin"), Array[Byte](7, 8))
    java.nio.file.Files.write(tmp.resolve("skip.dat"), Array[Byte](9))
    val got = graft.ops.Sources
      .binaryPrefixScan(spark, tmp.toString, Some("*.bin"), 1024)
      .as[(String, Long, Array[Byte])].collect()
      .map { case (p, l, b) => p.split('/').last -> ((l, b.toSeq)) }.toMap
    // zero-byte files are dropped by the binaryFile LISTING itself (Spark
    // skips empty files at scan planning) — the prefix scan inherits
    // binaryScan's file set exactly, plus the glob filter
    val listed = graft.ops.Sources
      .binaryScan(spark, tmp.toString, Some("*.bin"))
      .select("path").as[String].collect().map(_.split('/').last).toSet
    assert(got.keySet == listed, s"got ${got.keySet} listing $listed")
    assert(got.keySet == Set("tiny.bin"), s"got ${got.keySet}")
    assert(got("tiny.bin") == ((2L, Seq[Byte](7, 8))))
  }
}
