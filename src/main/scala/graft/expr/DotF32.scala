package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Codegen'd dot product of two float-array columns, accumulating in
  * double left-to-right — bit-identical to the
  * `aggregate(zip_with(...))` fold in Similarity.dot, but a tight
  * primitive loop inside whole-stage codegen instead of a chain of
  * higher-order-function expressions (which fall back to interpreted
  * ArrayData allocation per row). This is the "native Expression with
  * doGenCode beats a UDF beats everything else" tier for the
  * similarity-search hot path: at 100 TB the pairwise stage is exactly
  * this inner loop.
  */
case class DotF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_f32 expects array<float> inputs, got ${left.dataType.sql} " +
        s"and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    DotF32.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.expr.DotF32.compute($a, $b)")

  override def prettyName: String = "dot_f32"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotF32 =
    copy(left = newLeft, right = newRight)
}

object DotF32 {
  /** The loop interpreted eval and the generated code both call. */
  def compute(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }
}
