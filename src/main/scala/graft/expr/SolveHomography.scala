package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
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
  * but as a native expression it avoids UDF SerDe, is null-safe (a null
  * input, point or coordinate yields null), and is registrable in the
  * SQL function registry (GraftFunctions).
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

  // a null point or coordinate yields null even when both inputs are
  // non-null, so the generated code must check the result
  override def nullable: Boolean = true

  override def nullSafeEval(src: Any, dst: Any): Any = {
    def pts(a: Any): Option[Seq[(Double, Double)]] = {
      val arr = a.asInstanceOf[ArrayData]
      val ps = (0 until arr.numElements())
        .map(i => if (arr.isNullAt(i)) null else arr.getArray(i))
      if (ps.exists(p => p == null || p.isNullAt(0) || p.isNullAt(1))) None
      else Some(ps.map(p => (p.getDouble(0), p.getDouble(1))))
    }
    (for (s <- pts(src); d <- pts(dst))
      yield new GenericArrayData(Geometry.solveHomography(s, d))).orNull
  }

  override def prettyName: String = "solve_homography"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SolveHomography =
    copy(left = newLeft, right = newRight)
}
