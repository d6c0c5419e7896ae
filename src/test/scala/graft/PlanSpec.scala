package graft

import org.apache.spark.sql.functions._
import graft.ops.{Sinks, Tables}

/** Physical-plan regression guards: the properties that make these
  * queries survive a 100x scale-up must stay in the plan, not just in
  * the scaladoc.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  test("p3: magnitude filter is pushed to the parquet scan") {
    val p = plan("p3_magnitude_filter")
    assert(p.contains("PushedFilters") && p.contains("l_extendedprice"),
      s"filter not pushed:\n${p.take(800)}")
  }

  test("j1: small dimension side is broadcast") {
    assert(plan("j1_equi_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("w3: top-k is TakeOrderedAndProject, not a global sort") {
    assert(plan("w3_topk_worst").contains("TakeOrderedAndProject"))
  }

  test("j2: semi-join builds a broadcast from the DEDUPED fact key") {
    val p = plan("j2_semi_join")
    // the fact side is deduped (map-side partial distinct) and the key set
    // broadcast — BroadcastHashJoin LeftSemi, never a raw-orders shuffle
    // semi-join on the customer side
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"j2 is not a broadcast semi-join:\n${p.take(1200)}")
    val exIdx = p.indexOf("Exchange hashpartitioning(o_custkey")
    assert(exIdx >= 0 && p.lastIndexOf("HashAggregate") > exIdx,
      s"j2's key dedup has no map-side partial:\n${p.take(1200)}")
  }

  test("t4: exact dedup partial-aggregates map-side before the shuffle") {
    val p = plan("t4_exact_dedup")
    val aggIdx = p.indexOf("HashAggregate")
    val exIdx = p.indexOf("Exchange hashpartitioning(content_hash")
    assert(aggIdx >= 0 && exIdx >= 0)
    // a partial HashAggregate must appear BELOW (after, in tree print) the
    // hash exchange — i.e. there are aggregates on both sides of it
    assert(p.lastIndexOf("HashAggregate") > exIdx, "no map-side partial agg")
  }

  test("P9: a cheap predicate is pushed below an expensive projection") {
    val df = Tables.lineitem(spark, sf("sf0.001"))
      .withColumn("expensive", md5(concat_ws("|",
        col("l_orderkey"), col("l_extendedprice"))))
      .filter(col("l_orderkey") < 10)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("l_orderkey"),
      s"cheap filter not pushed below projection:\n${p.take(800)}")
  }

  test("sim2: IVF assignment is map-side — no window, no exchange") {
    import spark.implicits._
    val emb = (0L until 40L)
      .map(i => (i, s"l${i % 4}", Array.tabulate(8)(j => (i + j).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val cents = graft.ops.Similarity.centroids(emb, "embedding", "label")
    val assigned = graft.ops.Similarity
      .assignToCentroids(emb, "embedding", "vec_id", cents)
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"assignment still windows:\n${p.take(1200)}")
    assert(!p.contains("Exchange"), s"assignment still shuffles:\n${p.take(1200)}")
    // decisions identical to the window form: every vector lands on its
    // true nearest (rounded) centroid
    val rows = assigned.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val cmap = cents.collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    (0L until 40L).foreach { i =>
      val v = Array.tabulate(8)(j => (i + j).toDouble)
      val best = cmap.toSeq.map { case (l, c) =>
        val d2 = v.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
        (BigDecimal(d2).setScale(6, BigDecimal.RoundingMode.HALF_UP), l)
      }.min._2
      assert(rows(i) == best, s"vec $i assigned ${rows(i)}, expected $best")
    }
  }

  test("sim1/sim3: top-k is a bounded partial aggregate, not a per-query window") {
    Seq("sim1_brute_topk", "sim3_ivf_topk").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q still ranks through a window:\n${p.take(1200)}")
      assert(p.contains("topk_by_sim"),
        s"$q does not use the bounded top-k aggregate:\n${p.take(1200)}")
      // partial + final: the aggregate appears on both sides of a shuffle
      val first = p.indexOf("topk_by_sim")
      val last = p.lastIndexOf("topk_by_sim")
      assert(first >= 0 && last > first, s"$q: no partial top-k stage")
    }
  }

  test("x17/t5/a3: pinned plan shapes hold (bounded slots; custom aggs)") {
    val x17 = plan("x17_hdr_merge")
    // slot assignment is row_number ≤ 5 planned as WindowGroupLimit: a
    // bounded per-key top-5 that runs Partial BEFORE the exchange — no
    // task buffers a whole key. (The r5-r8 collect_smallest_n aggregate
    // was measured 15-30x slower at sf1: ObjectHashAggregate's sort-based
    // fallback re-serializes every priority-queue buffer at 1.5M keys.)
    assert(x17.contains("WindowGroupLimit"),
      s"x17 slot assignment lost the WindowGroupLimit pushdown:\n${x17.take(1200)}")
    assert(x17.contains("Partial"),
      s"x17 has no partial (pre-shuffle) group limit:\n${x17.take(1200)}")
    // the merge must stay the exploded codegen'd sum/sum hash aggregate —
    // no collect_list anywhere (the r8 interpreted HOF fold is gone)
    assert(!x17.contains("collect_list"),
      s"x17 merge went back to collect_list:\n${x17.take(1200)}")
    // one exchange total: the (l_orderkey, channel) aggregate and the
    // final sort reuse the window's hashpartitioning(l_orderkey)
    val nExchanges = "Exchange hashpartitioning".r
      .findAllIn(x17).size
    assert(nExchanges == 1,
      s"x17 should shuffle exactly once, saw $nExchanges:\n${x17.take(1200)}")
    val t5 = plan("t5_chargram_stats")
    assert(t5.contains("chargram_distinct") && !t5.contains("array_distinct"),
      s"t5 not using the codegen'd distinct counter:\n${t5.take(800)}")
    val a3 = plan("a3_columnwise_mean")
    assert(a3.contains("array_sum_agg"),
      s"a3 not using the element-wise sum aggregate:\n${a3.take(800)}")
  }

  test("p2: arity guard is a codegen'd hash aggregate, not an object agg") {
    val p = plan("p2_arity_guard")
    // the packed base-8 counter keeps the whole multiset in a LONG:
    // count+sum plan as HashAggregate (codegen) with a map-side partial —
    // never ObjectHashAggregate (collect_list), whose sort-based fallback
    // re-serializes every buffer at millions of keys
    assert(!p.contains("ObjectHashAggregate") && !p.contains("collect_list"),
      s"p2 went back to a collect-based aggregate:\n${p.take(1200)}")
    val exIdx = p.indexOf("Exchange hashpartitioning(l_orderkey")
    assert(exIdx >= 0 && p.lastIndexOf("HashAggregate") > exIdx,
      s"p2 has no map-side partial aggregate:\n${p.take(1200)}")
  }

  test("x14: SE(3) inverse computes above the range exchange") {
    // r22 compute-above-sort (the x11 pattern): the sort keys are the
    // four raw attributes, so the trig/matrix chain must evaluate ONCE
    // above the exchange and the exchange must carry the narrow
    // (keys + tx/ty/tz) rows — no transcendental anywhere at or below
    // the exchange, where range-boundary sampling would re-run it.
    val lines = plan("x14_se3_inverse").linesIterator.toVector
    val p = lines.mkString("\n")
    val ex = lines.indexWhere(_.contains("Exchange rangepartitioning"))
    assert(ex >= 1, s"x14 lost its range exchange:\n${p.take(1200)}")
    // the global Sort on the four keys sits directly on the exchange: the
    // output order comes from it, not from a terminal orderBy, so an
    // optimizer that drops it (EliminateSorts) must fail here
    val keys = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
      .map(k => raw"$k#\d+L? ASC NULLS FIRST").mkString(", ")
    val sort = raw".*\bSort \[$keys\], true, \d+"
    assert(lines(ex - 1).matches(sort),
      s"x14's global Sort is not directly above the exchange:\n${p.take(1200)}")
    // the staged trig (Geometry.eulerZyxStaged) prints as
    // SIN(RADIANS(cast(... as double))) AS __s{a,b,c}
    val trig = "SIN(RADIANS("
    assert(!lines.drop(ex).exists(_.contains(trig)),
      s"x14 trig slipped below the range exchange:\n${p.take(1200)}")
    val staged = """SIN\(RADIANS\(cast\(.*? as double\)\)\) AS __s([abc])#\d+""".r
    val above = lines.take(ex - 1).flatMap(l =>
      staged.findAllMatchIn(l).map(_.group(1))).toSet
    assert(above == Set("a", "b", "c"),
      s"x14 staged trig not computed above the sort:\n${p.take(1200)}")
  }

  test("w9: scalable ordinal has no single-partition Window task") {
    val p = plan("w9_ordinal_scalable")
    assert(!p.contains("Window"),
      s"w9 reintroduced a global window:\n${p.take(1200)}")
  }

  test("w2 declared: adaptive switch picks the 1-job window form on a tiny corpus") {
    // r22 adaptive small-input switch: the declared w2 routes tiny inputs
    // (estimated < 64 MB) to the faithful single-window form (1 job
    // instead of the scalable numbering's 4; row-identity of the two
    // forms is pinned in OpsSpec). The op itself (next test) never
    // reintroduces a window — the switch lives in the query body.
    assert(plan("w2_gap_sessions").contains("Window"),
      "tiny-corpus w2 did not take the single-window fast path")
  }

  test("w2 scale twin: gap sessions without any Window operator") {
    import spark.implicits._
    val ev = (1L to 100L).map(i => (i, i * 1000000000L)).toDF("event_id", "ts")
    val p = graft.ops.Windows.gapSessionsScalable(ev, "event_id", "ts")
      .queryExecution.executedPlan.toString
    // the scalable form numbers rows via range sort + broadcast offsets and
    // finds the next group by a grp-1 self-join — no WindowExec anywhere,
    // so no single-partition task at any input size
    assert(!p.contains("Window"),
      s"w2 scale twin reintroduced a window:\n${p.take(1200)}")
  }

  test("t6/t8/em1: candidate generation never falls back to an all-pairs product") {
    // LSH banding (t6), the two-stage verify built on it (t8) and the
    // blocked closest-pair (em1) all generate pairs by bucket equi-joins
    // with bounded per-task fan-out — a CartesianProduct or
    // BroadcastNestedLoopJoin in any of them is the O(n²) cliff at scale
    for (q <- Seq("t6_near_dup_candidates", "t8_jaccard_verify",
        "em1_blocked_closest_pair", "t11_simhash_near_dup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q fell back to an all-pairs product:\n${p.take(1200)}")
    }
    // the corpus-sized joins (band self-join; t8's intersection joins)
    // must be SHUFFLED hash joins, not broadcasts: at a 100x scale point
    // the static planner underestimated the exploded candidate-shingle
    // subtree and broadcast ~25M string rows into the driver
    for (q <- Seq("t6_near_dup_candidates", "t8_jaccard_verify",
        "t11_simhash_near_dup")) {
      val p = plan(q)
      assert(p.contains("ShuffledHashJoin"),
        s"$q lost its shuffled-hash bucket join:\n${p.take(1200)}")
    }
    // em1/em3's bucket-PAIR join must be a shuffled HASH join, never
    // SortMergeJoin: every join key group holds ~maxBlock rows per side,
    // past SMJ's 2048-row in-memory group buffer — the spilled right
    // group is then RE-READ from disk once per left row (measured
    // ~770 ns/pair vs ~25 ns streaming a hash map; >6 CPU-hours for the
    // sf30-scale skewed corpus's 3.25e10 pairs)
    for (q <- Seq("em1_blocked_closest_pair", "em3_ivf_closest_pair")) {
      val p = plan(q)
      assert(p.contains("ShuffledHashJoin") && !p.contains("SortMergeJoin"),
        s"$q bucket-pair join regressed to SortMergeJoin:\n${p.take(1200)}")
    }
  }

  test("em3: IVF prefilter keeps bounded bucket joins and a partial max") {
    val p = plan("em3_ivf_closest_pair")
    // candidate pairs come from the triangle-block equi-join on the
    // composite (label, cell) key — never an all-pairs product (the
    // join's build-vs-shuffle choice is size-dependent and left to the
    // planner/AQE: broadcast at tiny SF, shuffled at scale)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"em3 fell back to an all-pairs product:\n${p.take(1200)}")
    // the closest-pair reduction must partial-aggregate map-side via
    // ObjectHashAggregate over argmax_pair: each triangle task reduces
    // its own pair slice to one candidate BEFORE the exchange on the
    // label (shuffle volume ∝ tasks, not pairs). It must NOT be max_by:
    // that plans as SortAggregate (struct buffer can't hash-agg), whose
    // partial stage SORTS the whole pair stream to disk.
    assert(p.contains("partial_argmax_pair"),
      s"em3 lost its map-side partial argmax_pair:\n${p.take(1200)}")
    assert(p.contains("ObjectHashAggregate") && !p.contains("SortAggregate"),
      s"em3's closest-pair reduction fell out of the object-hash path:\n${p.take(1200)}")
    val exIdx = p.indexOf("Exchange hashpartitioning(_groupingexpression")
    assert(exIdx >= 0 && p.indexOf("partial_argmax_pair") > exIdx,
      s"partial argmax_pair is not below the label exchange:\n${p.take(1200)}")
  }

  test("em2: canonical dedup is a codegen'd hash aggregate with map-side partial") {
    val p = plan("em2_cosine_near_dup")
    // the min(va)-per-vb reduction must be a plain HashAggregate (codegen,
    // map-side partial before its exchange) — never an object agg
    assert(!p.contains("ObjectHashAggregate") && !p.contains("SortAggregate"),
      s"em2 fell out of the hash-agg path:\n${p.take(1200)}")
    val exIdx = p.indexOf("Exchange hashpartitioning(vec_id")
    assert(exIdx >= 0 && p.lastIndexOf("HashAggregate") > exIdx,
      "no map-side partial min before the vec_id exchange")
    // the pair generation must stay the triangle-decomposed bucket
    // explode (≤maxBlock² pairs per task regardless of skew) — never a
    // Cartesian/broadcast-nested-loop all-pairs product
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"em2 fell back to an all-pairs product:\n${p.take(1200)}")
  }

  test("normal_eq_agg: one partial-aggregating pass, values match 28 sums") {
    import spark.implicits._
    graft.expr.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)(Array.fill(14)(rnd.nextDouble() * 2 - 1))
    val df = rows.map(a => (a(0), a(1), a(2), a(3), a(4), a(5), a(6),
        a(7), a(8), a(9), a(10), a(11), a(12), a(13)))
      .toDF((0 until 14).map(i => s"c$i"): _*)
      .repartition(4)
    val args = (0 until 14).map(i => s"c$i").mkString(", ")
    val agg = df.agg(expr(s"normal_eq_agg($args)").as("ne"))
    // plan: ONE aggregate pair (partial map-side, final after a single
    // SinglePartition exchange) — the LM iteration's whole shuffle is
    // #partitions x 28 doubles
    val p = agg.queryExecution.executedPlan.toString
    assert(p.contains("normal_eq_agg"), s"aggregate missing:\n${p.take(800)}")
    val first = p.indexOf("normal_eq_agg")
    assert(p.lastIndexOf("normal_eq_agg") > first, "no map-side partial")
    // one SinglePartition exchange for the global fold (the repartition's
    // RoundRobin exchange stands in for the scan's many partitions) and
    // no hashpartitioning shuffle anywhere
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1,
      s"expected one SinglePartition exchange:\n${p.take(1200)}")
    assert(!p.contains("Exchange hashpartitioning"),
      s"unexpected hash shuffle:\n${p.take(1200)}")
    // values: identical (up to fp reassociation) to the 28 separate sums
    val ne = agg.collect()(0).getSeq[Double](0)
    def ju(r: Array[Double], i: Int) = r(2 + 2 * i)
    def jv(r: Array[Double], i: Int) = r(3 + 2 * i)
    val expCost = rows.map(r => r(0) * r(0) + r(1) * r(1)).sum
    assert(math.abs(ne.head - expCost) < 1e-9 * math.abs(expCost))
    var idx = 1
    for (i <- 0 until 6; j <- i until 6) {
      val e = rows.map(r => ju(r, i) * ju(r, j) + jv(r, i) * jv(r, j)).sum
      assert(math.abs(ne(idx) - e) < 1e-9 * (math.abs(e) + 1), s"jtj($i,$j)")
      idx += 1
    }
    for (i <- 0 until 6) {
      val e = rows.map(r => ju(r, i) * r(0) + jv(r, i) * r(1)).sum
      assert(math.abs(ne(idx + i) - e) < 1e-9 * (math.abs(e) + 1), s"jtr($i)")
    }
    // a row with ANY null input is skipped whole (sum()-compatible
    // masking: all 28 terms share the same inputs)
    val withNull = df.union(spark.sql(
      "SELECT cast(null as double), " +
        (1 until 14).map(_ => "cast(1.0 as double)").mkString(", ")))
    val ne2 = withNull.agg(expr(s"normal_eq_agg($args)")).collect()(0)
      .getSeq[Double](0)
    assert(math.abs(ne2.head - ne.head) < 1e-12)
  }

  test("a2_bucketed/j2_bucketed: no keyed exchange anywhere in the plan") {
    // The point of the declared bucketed family (A2_SF100.md §6): the
    // keyed shuffle a2/j2 pay is a LAYOUT choice, and on the bucketed
    // layout it is GONE. The only exchanges allowed are the
    // single-partition one under a2's global stats and the range
    // partitioning of j2's output sort — both O(groups)/O(output), never
    // a hash repartition of the input.
    for (name <- Seq("a2_bucketed", "j1_bucketed", "j2_bucketed")) {
      val p = plan(name)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$name still pays a keyed exchange:\n${p.take(1500)}")
    }
  }

  test("bucketed tables join without any shuffle exchange") {
    import spark.implicits._
    val left = (1L to 1000L).map(i => (i, i * 2)).toDF("k", "a")
    val right = (1L to 1000L).map(i => (i, i * 3)).toDF("k", "b")
    Sinks.writeBucketed(left, "graft_bucket_l", "k", 4)
    Sinks.writeBucketed(right, "graft_bucket_r", "k", 4)
    val joined = spark.sql(
      """SELECT /*+ MERGE(l) */ l.k, a, b
        |FROM graft_bucket_l l JOIN graft_bucket_r r ON l.k = r.k""".stripMargin)
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"bucketed join still shuffles:\n${p.take(1200)}")
    assert(joined.count() == 1000)
  }
}
