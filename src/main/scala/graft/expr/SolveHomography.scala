package graft.expr

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import graft.ops.Geometry

/** Native Catalyst expression for the 4-point homography solve
  * (image_cut_warp.py:28-31 / cv2.getPerspectiveTransform; SURVEY.md §4
  * item 1): `solve_homography(src: array<array<double>>, dst) ->
  * array<double>[9]` row-major with h22 = 1.
  *
  * CodegenFallback is deliberate: the solve runs once per image group
  * (3,108 in the reference), never per pixel — eval cost is irrelevant,
  * but as a native expression it avoids UDF SerDe, is null-safe, and is
  * registrable in the SQL function registry (GraftExtensions).
  */
case class SolveHomography(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"solve_homography expects array<array<double>> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(src: Any, dst: Any): Any = {
    def pts(a: Any): Seq[(Double, Double)] = {
      val arr = a.asInstanceOf[ArrayData]
      (0 until arr.numElements()).map { i =>
        val p = arr.getArray(i)
        (p.getDouble(0), p.getDouble(1))
      }
    }
    new GenericArrayData(Geometry.solveHomography(pts(src), pts(dst)))
  }

  override def prettyName: String = "solve_homography"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SolveHomography =
    copy(left = newLeft, right = newRight)
}

/** SQL-surface registration. Two forms:
  *  - `GraftFunctions.register(spark)` on a live session;
  *  - `spark.sql.extensions=graft.expr.GraftExtensions` at build time
  *    (the SparkSessionExtensions injection point).
  */
object GraftFunctions {
  val entries: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (
        FunctionIdentifier("solve_homography"),
        new ExpressionInfo(classOf[SolveHomography].getName, "solve_homography"),
        (children: Seq[Expression]) => {
          require(children.length == 2,
            "solve_homography(src_pts, dst_pts) takes exactly 2 arguments")
          SolveHomography(children(0), children(1))
        }),
      (
        FunctionIdentifier("dot_f32"),
        new ExpressionInfo(classOf[DotF32].getName, "dot_f32"),
        (children: Seq[Expression]) => {
          require(children.length == 2,
            "dot_f32(a, b) takes exactly 2 arguments")
          DotF32(children(0), children(1))
        }),
      (
        FunctionIdentifier("l2sq_f32"),
        new ExpressionInfo(classOf[L2SqF32].getName, "l2sq_f32"),
        (children: Seq[Expression]) => {
          require(children.length == 2,
            "l2sq_f32(a, b) takes exactly 2 arguments")
          L2SqF32(children(0), children(1))
        }),
      (
        FunctionIdentifier("nearest_cell"),
        new ExpressionInfo(classOf[NearestCell].getName, "nearest_cell"),
        (children: Seq[Expression]) => {
          require(children.length == 2,
            "nearest_cell(vec, cents) takes exactly 2 arguments")
          NearestCell(children(0), children(1))
        }),
      (
        FunctionIdentifier("word_shingles"),
        new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
        (children: Seq[Expression]) => {
          require(children.length == 2,
            "word_shingles(tokens, k) takes exactly 2 arguments")
          WordShingles(children(0), children(1))
        }),
      (
        FunctionIdentifier("minhash_sig"),
        new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
        (children: Seq[Expression]) => {
          require(children.length == 2,
            "minhash_sig(shingles, k) takes exactly 2 arguments")
          MinHashSig(children(0), children(1))
        }),
      (
        FunctionIdentifier("topk_by_sim"),
        new ExpressionInfo(classOf[TopKBySim].getName, "topk_by_sim"),
        (children: Seq[Expression]) => {
          require(children.length == 3,
            "topk_by_sim(sim, id, k) takes exactly 3 arguments")
          TopKBySim(children(0), children(1), children(2))
        }),
      (
        // Spark's own bounded top-k collector (CollectTopK, the aggregate
        // behind ml's collect_top_k): with reverse=true it keeps the n
        // SMALLEST values in an O(n) buffer that partial-aggregates
        // map-side, and eval returns them sorted ascending — decision-
        // identical to slice(array_sort(collect_list(e)), 1, n) without
        // ever buffering a whole group. Registered here because the SQL
        // surface only exposes it to ml internals.
        FunctionIdentifier("collect_smallest_n"),
        new ExpressionInfo(
          classOf[org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK].getName,
          "collect_smallest_n"),
        (children: Seq[Expression]) => {
          require(children.length == 2,
            "collect_smallest_n(e, n) takes exactly 2 arguments")
          val n = children(1) match {
            case e if e.foldable && e.eval() != null =>
              e.eval().asInstanceOf[Number].intValue()
            case _ => throw new IllegalArgumentException(
              "collect_smallest_n: n must be a constant integer")
          }
          require(n > 0, "collect_smallest_n: n must be positive")
          new org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK(
            children(0), n, true, 0, 0)
        }),
      (
        FunctionIdentifier("winnow_fp"),
        new ExpressionInfo(classOf[WinnowFp].getName, "winnow_fp"),
        (children: Seq[Expression]) => {
          require(children.length == 3,
            "winnow_fp(text, k, w) takes exactly 3 arguments")
          WinnowFp(children(0), children(1), children(2))
        }),
      (
        FunctionIdentifier("chargram_distinct"),
        new ExpressionInfo(classOf[CharGramDistinct].getName, "chargram_distinct"),
        (children: Seq[Expression]) => {
          require(children.length == 2,
            "chargram_distinct(text, n) takes exactly 2 arguments")
          CharGramDistinct(children(0), children(1))
        }),
      (
        FunctionIdentifier("array_sum_agg"),
        new ExpressionInfo(classOf[ArraySumAgg].getName, "array_sum_agg"),
        (children: Seq[Expression]) => {
          require(children.length == 1,
            "array_sum_agg(arr) takes exactly 1 argument")
          ArraySumAgg(children(0))
        }),
      (
        FunctionIdentifier("simhash64"),
        new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
        (children: Seq[Expression]) => {
          require(children.length == 1,
            "simhash64(tokens) takes exactly 1 argument")
          SimHash64(children(0))
        }),
      (
        FunctionIdentifier("argmax_pair"),
        new ExpressionInfo(classOf[ClosestPairAgg].getName, "argmax_pair"),
        (children: Seq[Expression]) => {
          require(children.length == 3,
            "argmax_pair(cos, va, vb) takes exactly 3 arguments")
          ClosestPairAgg(children(0), children(1), children(2))
        }),
      (
        FunctionIdentifier("simhash32_bits"),
        new ExpressionInfo(classOf[SimHash32Bits].getName, "simhash32_bits"),
        (children: Seq[Expression]) => {
          require(children.length == 1,
            "simhash32_bits(tokens) takes exactly 1 argument")
          SimHash32Bits(children(0))
        }),
      (
        FunctionIdentifier("token_stats"),
        new ExpressionInfo(classOf[TokenStats].getName, "token_stats"),
        (children: Seq[Expression]) => {
          require(children.length == 1,
            "token_stats(text) takes exactly 1 argument")
          TokenStats(children(0))
        }),
      (
        FunctionIdentifier("bpe_stats"),
        new ExpressionInfo(classOf[BpeStats].getName, "bpe_stats"),
        (children: Seq[Expression]) => {
          require(children.length == 1,
            "bpe_stats(text) takes exactly 1 argument")
          BpeStats(children(0))
        }))

  def register(spark: SparkSession): Unit =
    entries.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.entries.foreach(ext.injectFunction)
}
