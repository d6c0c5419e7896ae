package graft

import graft.expr.GraftFunctions
import graft.ops.Geometry

/** Native SolveHomography expression: registry + SQL surface parity with
  * the Scala solve (SURVEY.md §4 item 1).
  */
class ExprSpec extends SparkSpec {

  test("minhash_sig rejects an oversized k at analysis time, not mid-job") {
    GraftFunctions.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_sig(array('a b c'), 16)").collect()
    }
    assert(e.getMessage.contains("k must be in [1, 8]"),
      s"wrong failure: ${e.getMessage}")
  }

  test("an empty table ranks to an empty array, for a Literal and for a Cast child") {
    // r21: an empty foldable table NPE'd in codegen. Both child shapes
    // reach execution (ConstantFolding is off, so the Cast stays a Cast),
    // interpreted and codegen'd.
    GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    val vecs = spark.range(0, 3).select(array(col("id").cast("double")).as("v"))
    val asLiteral = typedLit(Seq.empty[(Int, Seq[Double])])
    val asCast = expr(
      "cast(array() as array<struct<c_label:int,centroid:array<double>>>)")
    for (codegen <- Seq(true, false); cents <- Seq(asLiteral, asCast))
      TestSpark.withCodegen(codegen, "spark.sql.optimizer.excludedRules" ->
          "org.apache.spark.sql.catalyst.optimizer.ConstantFolding") {
        val q = vecs
          .select(call_function("nearest_cells", col("v"), cents, lit(3)))
        val child = q.queryExecution.optimizedPlan.expressions
          .flatMap(_.collect { case e: graft.expr.NearestCells => e.cents }).head
        assert(child.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Cast] ==
          (cents eq asCast), child)
        val got = q.collect().map(_.getSeq[org.apache.spark.sql.Row](0))
        assert(got.length == 3 && got.forall(_.isEmpty),
          s"codegen=$codegen $cents: ${got.toSeq}")
      }
  }

  test("nearest_cells type check reads no centroid data") {
    // a foldable centroid child whose eval throws must still type-check
    // (ROADMAP D2's structural check, for this expression)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val e = graft.expr.NearestCells(
      Literal.create(Seq(1.0), ArrayType(DoubleType)), ExprSpec.Unreadable,
      Literal(2))
    assert(e.checkInputDataTypes().isSuccess)
    assert(e.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType].fieldNames.toSeq == Seq("d2", "c_label"))
  }

  test("topk_by_sim keeps the k best by (sim DESC, id ASC) across merges") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = (0L until 100L).map(i => (i % 3, i, (i % 10) / 10.0))
      .toDF("g", "id", "sim").repartition(7)
    val got = df.groupBy("g")
      .agg(org.apache.spark.sql.functions.call_function("topk_by_sim",
        org.apache.spark.sql.functions.col("sim"),
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.lit(4)).as("top"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(s => (s.getLong(0), s.getDouble(1)))).toMap
    (0L until 3L).foreach { g =>
      val want = (0L until 100L).filter(_ % 3 == g)
        .map(i => (i, (i % 10) / 10.0))
        .sortBy { case (id, s) => (-s, id) }.take(4)
      assert(got(g) == want, s"group $g: ${got(g)} vs $want")
    }
  }

  test("topk_by_sim ranks NaN first, like the window sort and DuckDB DESC") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, 0.9), (2L, Double.NaN), (3L, 0.5), (4L, 0.7))
      .toDF("id", "sim").repartition(3)
    val top = df.groupBy(lit(1).as("g"))
      .agg(call_function("topk_by_sim", col("sim"), col("id"), lit(3))
        .as("top"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](1)
      .map(_.getLong(0))
    assert(top == Seq(2L, 1L, 4L),
      s"NaN similarity must rank first (Double.compare order), got $top")
  }

  test("winnow_fp twin equality holds for non-BMP (astral) characters") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val astral = "hello 😀 world of emoji 😀😁 tests"
    val df = Seq(astral).toDF("text")
    val fast = df.select(graft.ops.TextOps
      .winnowFingerprintsFast(col("text"), 8, 4).as("fp"))
      .as[Seq[Long]].collect()(0)
    val hof = df.select(graft.ops.TextOps
      .winnowFingerprintsHof(col("text"), 8, 4).as("fp"))
      .as[Seq[Long]].collect()(0)
    assert(fast == hof, s"codepoint parity: $fast vs $hof")
    assert(fast.nonEmpty)
  }

  test("solve_homography is callable from SQL and matches the Scala solve") {
    GraftFunctions.register(spark)
    val sql = """
      SELECT solve_homography(
        array(array(12d, 34d), array(780d, 20d), array(790d, 770d),
              array(15d, 800d)),
        array(array(0d, 0d), array(800d, 0d), array(800d, 800d),
              array(0d, 800d))) AS h"""
    val got = spark.sql(sql).collect()(0)
      .getAs[scala.collection.Seq[Double]]("h").toSeq
    val want = Geometry.solveHomography(
      Seq((12.0, 34.0), (780.0, 20.0), (790.0, 770.0), (15.0, 800.0)),
      Seq((0.0, 0.0), (800.0, 0.0), (800.0, 800.0), (0.0, 800.0))).toSeq
    got.zip(want).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12, s"$a vs $b")
    }
    assert(got.last == 1.0)
  }

  test("dot_f32 codegen loop matches the HOF fold bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    GraftFunctions.register(spark)
    val emb = graft.ops.Tables.embeddings(spark, sf("sf0.01"))
      .limit(50).select(col("embedding").as("a"))
    val paired = emb.crossJoin(emb.select(col("a").as("b")))
    val diffs = paired.select(
      (graft.ops.Similarity.dot(col("a"), col("b")) -
        graft.ops.Similarity.dotFast(col("a"), col("b"))).as("d"))
      .agg(max(abs(col("d")))).collect()(0).getDouble(0)
    assert(diffs == 0.0, s"codegen dot deviates by $diffs")
    // and it participates in whole-stage codegen
    val cg = paired.select(
      graft.ops.Similarity.dotFast(col("a"), col("b")).as("s"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen"), cg.take(500))
  }

  test("solve_homography null input yields null, wrong arity is an error") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT solve_homography(CAST(NULL AS ARRAY<ARRAY<DOUBLE>>), " +
        "array(array(0d,0d), array(1d,0d), array(1d,1d), array(0d,1d)))")
      .collect()(0)
    assert(r.isNullAt(0))
    // a null coordinate or a null point yields null on either side; as
    // literals the optimizer folds the call, over `id` the generated code
    // runs it and must read the result's null bit
    val quad = "array(array(0d,0d), array(1d,0d), array(1d,1d), array(0d,1d))"
    def nullCoord(x: String) =
      s"array(array($x, CAST(NULL AS DOUBLE)), array(1d,0d), array(1d,1d), array(0d,1d))"
    def nullPoint(x: String) =
      s"array(array($x, 0d), CAST(NULL AS ARRAY<DOUBLE>), array(1d,1d), array(0d,1d))"
    for (bad <- Seq(nullCoord _, nullPoint _); x <- Seq("0d", "CAST(id AS DOUBLE)");
         call <- Seq(s"solve_homography(${bad(x)}, $quad)",
           s"solve_homography($quad, ${bad(x)})")) {
      val row = spark.range(1).selectExpr(call).collect()(0)
      assert(row.isNullAt(0), s"$call gave ${row.get(0)}")
    }
    val err = intercept[Exception] {
      spark.sql("SELECT solve_homography(array(array(0d,0d)))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("argument") ||
      err.getMessage.contains("solve_homography"))
  }
}

object ExprSpec {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.LeafExpression
  import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
  import org.apache.spark.sql.types._

  /** A foldable centroid table that fails if anything evaluates it. */
  case object Unreadable extends LeafExpression with CodegenFallback {
    override def foldable: Boolean = true
    override def nullable: Boolean = false
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("c_label", IntegerType),
      StructField("centroid", ArrayType(DoubleType)))))
    override def eval(input: InternalRow): Any =
      throw new IllegalStateException("the centroid table was evaluated")
  }
}
