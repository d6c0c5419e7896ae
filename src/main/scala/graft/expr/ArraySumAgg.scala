package graft.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Element-wise sum of an array column: `array_sum_agg(vec)` →
  * array<double> of per-position sums, accumulating in double.
  *
  * This is the 100-TB shape for column-wise vector statistics (A3's
  * mean-of-vectors, IVF centroid recomputation): the posexplode
  * alternative multiplies the row count by the vector dimension and
  * shuffles n x dim (pos, value) rows; this aggregate's buffer is dim
  * doubles per partition and participates in map-side partial
  * aggregation, so the shuffle carries #partitions x dim doubles total.
  * Mean = transform(sums, s -> s / count) downstream.
  *
  * Null rows are skipped; null elements count as 0 (the inputs here are
  * dense embeddings — a per-position null count is out of scope). All
  * arrays in a group must share one length; a mismatch fails loudly
  * rather than silently truncating.
  */
case class ArraySumAgg(child: Expression,
    mutableAggBufferOffset: Int, inputAggBufferOffset: Int)
    extends TypedImperativeAggregate[Array[Double]] {

  def this(child: Expression) = this(child, 0, 0)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"array_sum_agg expects array<float|double>, got ${t.sql}")
  }

  private val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): Array[Double] = Array.empty

  override def update(buf: Array[Double], input: InternalRow): Array[Double] = {
    val v = child.eval(input)
    if (v == null) return buf
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // empty arrays are skipped EXPLICITLY: an empty buffer doubles as the
    // uninitialized sentinel, so without this the behavior would depend
    // on whether the empty row arrived before or after a non-empty one
    if (n == 0) return buf
    val acc = if (buf.isEmpty) new Array[Double](n) else buf
    require(acc.length == n,
      s"array_sum_agg: inconsistent lengths ${acc.length} vs $n")
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i))
        acc(i) += (if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i))
      i += 1
    }
    acc
  }

  override def merge(buf: Array[Double], other: Array[Double]): Array[Double] = {
    if (other.isEmpty) return buf
    if (buf.isEmpty) return other
    require(buf.length == other.length,
      s"array_sum_agg: inconsistent lengths ${buf.length} vs ${other.length}")
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Double]): Any =
    if (buf.isEmpty) null
    else new GenericArrayData(buf.map(_.asInstanceOf[Any]))

  override def serialize(buf: Array[Double]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(4 + 8 * buf.length)
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach(out.writeDouble)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Double] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    Array.fill(n)(in.readDouble())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ArraySumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ArraySumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArraySumAgg =
    copy(child = newChildren(0))

  override def prettyName: String = "array_sum_agg"
}
