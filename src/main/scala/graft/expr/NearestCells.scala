package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd IVF cell ranking: `nearest_cells(vec, cents, n)` is the `n`
  * nearest centroids of a vector as array<struct<d2, c_label>>, exactly
  * `slice(array_sort(transform(cents, c => struct(round(l2sq(vec, c._2),
  * 6), c._1))), 1, n)` with the HOF `Similarity.l2sq`:
  *  - d2 accumulates left-to-right in double, each element widened as
  *    `cast(x as double)` does;
  *  - d2 is rounded as Spark's Round does for doubles (BigDecimal
  *    HALF_UP at scale 6; NaN/Inf pass through);
  *  - the order is Spark's struct order: d2 ascending under the SQL
  *    double ordering (NaN last, -0.0 = 0.0), then label ascending.
  *
  * This is the per-row hot path of every IVF rank (sim2's assignment,
  * each Lloyd pass of the index build, ivfTopK's probes, em3's probe and
  * sub-split cells): the HOF form builds and sorts the cell structs per
  * row interpreted, outside whole-stage codegen. Here the centroid table
  * is decoded once per expression instance (sorted by label, so a
  * stable insertion settles d2 ties) and each row runs one primitive
  * loop per cell plus an insertion into the top-n.
  *
  * `cents` must be FOLDABLE array<struct<label int|bigint|string,
  * array<double>>> and `n` a foldable int; the type check reads only
  * their types. An empty (or null) table ranks to an empty array.
  * A vector whose length differs from a centroid's fails loudly.
  */
case class NearestCells(vec: Expression, cents: Expression, n: Expression)
    extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = cents
  override def third: Expression = n

  private def labelType: DataType = cents.dataType match {
    case ArrayType(StructType(fs), _) if fs.length == 2 => fs(0).dataType
    case _ => NullType
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val centsOk = cents.dataType match {
      case ArrayType(StructType(Array(
          StructField(_, LongType | IntegerType | StringType, _, _),
          StructField(_, ArrayType(DoubleType, _), _, _))), _) => true
      case _ => false
    }
    if (!vecOk)
      TypeCheckResult.TypeCheckFailure(
        s"nearest_cells expects array<float|double> vector, got ${vec.dataType.sql}")
    else if (!centsOk || !cents.foldable)
      TypeCheckResult.TypeCheckFailure(
        "nearest_cells expects a FOLDABLE array<struct<label int|bigint|" +
          s"string, array<double>>> centroid table, got ${cents.dataType.sql}")
    else if (n.dataType != IntegerType || !n.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"nearest_cells expects a foldable int n, got ${n.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def nullable: Boolean = vec.nullable

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("d2", DoubleType, nullable = true),
    StructField("c_label", labelType, nullable = true))), containsNull = false)

  @transient private lazy val table: NearestCells.Table = {
    val nv = n.eval()
    if (nv == null || nv.asInstanceOf[Int] < 0) throw new IllegalArgumentException(
      s"nearest_cells: n must be a non-negative int, got $nv")
    val floatVec = vec.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    NearestCells.Table(cents.eval().asInstanceOf[ArrayData], labelType,
      floatVec, nv.asInstanceOf[Int])
  }

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) null else table.rank(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("cells", table, classOf[NearestCells.Table].getName)
    val v = vec.genCode(ctx)
    ev.copy(code = code"""
      ${v.code}
      boolean ${ev.isNull} = ${v.isNull};
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $t.rank(${v.value});
      }
    """)
  }

  override def prettyName: String = "nearest_cells"

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): NearestCells =
    copy(vec = newFirst, cents = newSecond, n = newThird)
}

object NearestCells {

  /** Spark Round's DoubleType eval path, verbatim semantics. */
  private def round6(d: Double): Double =
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) d
    else BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** A decoded centroid table, sorted by label (nulls first, as Spark's
    * struct order puts them), and the ranking kernel that interpreted
    * eval and the generated code both call.
    */
  final class Table(labels: Array[Any], cents: Array[Array[Double]],
      floatVec: Boolean, n: Int) extends Serializable {

    /** The min(n, k) nearest cells of `v`, in (d2, label) order. */
    def rank(v: ArrayData): ArrayData = {
      val m = math.min(n, cents.length)
      val d2s = new Array[Double](m)
      val idx = new Array[Int](m)
      var filled = 0
      var ci = 0
      while (ci < cents.length && m > 0) {
        val c = cents(ci)
        val len = c.length
        if (len != v.numElements()) throw new IllegalArgumentException(
          s"nearest_cells: length mismatch (${v.numElements()} vs $len)")
        var s = 0.0
        var i = 0
        while (i < len) {
          val xi = if (floatVec) v.getFloat(i).toDouble else v.getDouble(i)
          val d = xi - c(i)
          s += d * d
          i += 1
        }
        val d2 = round6(s)
        // strict `<` keeps an earlier (smaller-label) cell ahead on ties
        if (filled < m || SQLOrderingUtil.compareDoubles(d2, d2s(m - 1)) < 0) {
          var j = if (filled < m) filled else m - 1
          while (j > 0 && SQLOrderingUtil.compareDoubles(d2, d2s(j - 1)) < 0) {
            d2s(j) = d2s(j - 1); idx(j) = idx(j - 1)
            j -= 1
          }
          d2s(j) = d2; idx(j) = ci
          if (filled < m) filled += 1
        }
        ci += 1
      }
      val out = new Array[Any](m)
      var r = 0
      while (r < m) {
        out(r) = new GenericInternalRow(Array[Any](d2s(r), labels(idx(r))))
        r += 1
      }
      new GenericArrayData(out)
    }
  }

  object Table {
    def apply(arr: ArrayData, labelType: DataType, floatVec: Boolean,
        n: Int): Table = {
      val rows = if (arr == null) Array.empty[InternalRow]
        else Array.tabulate(arr.numElements())(arr.getStruct(_, 2))
      val byLabel = rows.map(r => (r.get(0, labelType), r.getArray(1).toDoubleArray()))
        .sortWith { case ((a, _), (b, _)) => labelLt(a, b) }
      new Table(byLabel.map(_._1), byLabel.map(_._2), floatVec, n)
    }

    private def labelLt(a: Any, b: Any): Boolean = (a, b) match {
      case (null, _) => b != null
      case (_, null) => false
      case (x: Long, y: Long) => x < y
      case (x: Int, y: Int) => x < y
      case (x: UTF8String, y: UTF8String) => x.compareTo(y) < 0
    }
  }
}
