package graft

/** Regression guard for the r10 failure mode: an analysis-time error in any
  * declared query made it silently vanish from the driver's correctness
  * surface (Verify caught the throwable and moved on). Every query in
  * SparkEntry.allDefs must at least ANALYZE against real sf0.001 data —
  * schema drift in the testdata (e.g. events.ts nanos→µs) now fails the
  * suite locally instead of shrinking CORRECTNESS_r{N}.json.
  */
class DeclaredQueriesSpec extends SparkSpec {

  test("every declared query analyzes against sf0.001") {
    val dir = sf("sf0.001")
    // register up front: most query fns self-register the graft functions,
    // but a future one using call_function without doing so would fail
    // here order-dependently (pass iff a prior test on the shared session
    // registered first)
    graft.expr.GraftFunctions.register(spark)
    val failures = SparkEntry.allDefs.flatMap { q =>
      try { q.fn(spark, dir).queryExecution.analyzed; None }
      catch { case e: Throwable =>
        Some(s"${q.name}: ${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(3).mkString(" | ")}")
      }
    }
    assert(failures.isEmpty,
      s"\n${failures.size} declared queries fail analysis:\n  ${failures.mkString("\n  ")}")
  }

  test("no declared query falls back to an all-pairs product (sweep)") {
    // Every CartesianProduct / BroadcastNestedLoopJoin in any of the 68
    // physical plans is a potential O(n^2) cliff at scale. The allowlist
    // is the set whose all-pairs shape is BOUNDED BY CONSTRUCTION or
    // deliberate:
    //   j5_cross_grid / x13_chessboard_grid / g1_pose_grid — literal
    //     range grids (5x5x5, 11x8, 3125 rows) independent of data size;
    //   j6_broadcast_singleton — one-row broadcast side;
    //   sim1_brute_topk — the documented brute-force ANN baseline (the
    //     IVF path sim2/sim3 is the scale form) — and its keyed-slice
    //     twin sim1_slice_brute_topk, the same shape over the
    //     `vec_id % 40 = 0` slice.
    val allowed = Set("j5_cross_grid", "j6_broadcast_singleton",
      "x13_chessboard_grid", "g1_pose_grid", "sim1_brute_topk",
      "sim1_slice_brute_topk")
    val dir = sf("sf0.001")
    graft.expr.GraftFunctions.register(spark)
    val offenders = SparkEntry.allDefs.filterNot(q => allowed(q.name)).flatMap { q =>
      val p = q.fn(spark, dir).queryExecution.executedPlan.toString
      val flags = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
        .filter(p.contains)
      if (flags.nonEmpty) Some(s"${q.name}: ${flags.mkString(",")}") else None
    }
    assert(offenders.isEmpty,
      s"\nall-pairs products outside the allowlist:\n  ${offenders.mkString("\n  ")}")
  }

  test("storage returns to zero after a full declared-query sweep") {
    // The leak class the harness must not have: query closures that cache
    // (t8's shingle DF) or persist (w2/w9's sorted RDD) cannot release
    // after the caller's action, so Verify/Bench call Caches.releaseAll
    // between queries. This RUNS every declared query (real actions, so
    // caches actually materialize) with the same release discipline and
    // asserts the block manager ends empty — a new query that pins
    // storage with no release path fails here, not at an sf10 scale point.
    val dir = sf("sf0.001")
    graft.expr.GraftFunctions.register(spark)
    SparkEntry.allDefs.foreach { q =>
      q.fn(spark, dir).count()
      graft.ops.Caches.releaseAll(spark)
    }
    assert(graft.ops.Caches.storageEmpty(spark),
      "persisted RDDs or cached DataFrames survived releaseAll: " +
        spark.sparkContext.getPersistentRDDs.keys.mkString(","))
  }

  test("a slice twin equals its full query run on a slice-only corpus") {
    // One family per sliced table, each non-empty at sf0.01. The slice is
    // written out with its own predicate here, not through queries.Slice,
    // so a twin that filters the wrong table or column, or whose body
    // reads anything from the unsliced corpus, returns other rows than
    // the full query over a corpus that holds only the slice.
    import org.apache.spark.sql.functions.col
    val whole = sf("sf0.01")
    val cases = Seq(
      ("lineitem", col("l_orderkey") % 50 === 0,
        "x7_euler_rotation", "x7_slice_euler_rotation"),
      ("embeddings", col("vec_id") % 40 === 0,
        "em2_cosine_near_dup", "em2_slice_cosine_near_dup"),
      ("documents", col("doc_id") % 50 === 0,
        "t7_simhash", "t7_slice_simhash"))
    graft.expr.GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft-slice")
    try {
      for ((table, keep, full, twin) <- cases) {
        graft.ops.Tables.t(spark, whole, table).filter(keep)
          .write.parquet(s"$dir/$table.parquet")
        val want = SparkEntry.queries(twin)(spark, whole).collect().toSeq
        val got = SparkEntry.queries(full)(spark, dir.toString)
          .collect().toSeq
        assert(want.nonEmpty, s"$twin is empty at sf0.01")
        val same = got == want // not inline: the macro would print every row
        assert(same, s"$full on the $table slice != $twin: " +
          s"${got.size} vs ${want.size} rows")
      }
    } finally {
      graft.ops.Caches.releaseAll(spark)
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  test("declared query names are unique and each oracle has a query") {
    val names = SparkEntry.allDefs.map(_.name)
    assert(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }
}
