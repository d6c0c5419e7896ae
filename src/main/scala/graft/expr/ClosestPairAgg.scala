package graft.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** argmax_pair(cos, va, vb) → struct(va, vb, cos): the single best pair
  * per group under (cos DESC, va ASC, vb ASC) — decision-identical to
  * `max_by(struct(va, vb, cos), struct(cos, -va, -vb))`, which is what
  * the closest-pair reductions used to use.
  *
  * Why it exists: MaxBy is a DeclarativeAggregate whose buffer holds the
  * struct values, and HashAggregateExec only takes mutable PRIMITIVE
  * buffer types — so the planner silently fell back to SortAggregate,
  * whose partial stage SORTS its entire input partition. For em1/em3
  * that input is the candidate-PAIR stream (1.8e10 rows at the sf30
  * point): the "map-side partial max" was actually a full disk sort of
  * every pair, which filled the box's disk and ENOSPC'd the sf30 bench.
  * (Rounds ≤16 never saw this: the bench's old count() action pruned the
  * unused max_by down to a bare count, hiding the SortAggregate.)
  * A TypedImperativeAggregate goes through ObjectHashAggregateExec:
  * constant-size buffer per group, true map-side partial, no sort.
  *
  * NaN cosines rank FIRST (java.lang.Double.compare), matching both
  * Spark's struct ordering in max_by and DuckDB's ORDER BY DESC — but
  * upstream blockedPairs gates norms per row, so NaN cannot reach this
  * aggregate from the declared queries.
  */
case class ClosestPairAgg(
    cos: Expression, va: Expression, vb: Expression,
    mutableAggBufferOffset: Int, inputAggBufferOffset: Int)
    extends TypedImperativeAggregate[ClosestPairAgg.Buf] {

  def this(cos: Expression, va: Expression, vb: Expression) =
    this(cos, va, vb, 0, 0)

  override def checkInputDataTypes(): TypeCheckResult =
    if (cos.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"argmax_pair: cos must be double, got ${cos.dataType.sql}")
    else if (va.dataType != LongType || vb.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"argmax_pair: ids must be bigint, got ${va.dataType.sql}/${vb.dataType.sql}")
    else TypeCheckResult.TypeCheckSuccess

  override def children: Seq[Expression] = Seq(cos, va, vb)
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("va", LongType, nullable = false),
    StructField("vb", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false)))

  override def createAggregationBuffer(): ClosestPairAgg.Buf =
    new ClosestPairAgg.Buf(false, 0.0, 0L, 0L)

  @inline private def better(c: Double, a: Long, b: Long,
      buf: ClosestPairAgg.Buf): Boolean = {
    val cmp = java.lang.Double.compare(c, buf.cos)
    cmp > 0 || (cmp == 0 && (a < buf.va || (a == buf.va && b < buf.vb)))
  }

  override def update(buf: ClosestPairAgg.Buf, input: InternalRow)
      : ClosestPairAgg.Buf = {
    val c = cos.eval(input); val a = va.eval(input); val b = vb.eval(input)
    if (c != null && a != null && b != null) {
      val cd = c.asInstanceOf[Double]
      val al = a.asInstanceOf[Long]; val bl = b.asInstanceOf[Long]
      if (!buf.has || better(cd, al, bl, buf)) {
        buf.has = true; buf.cos = cd; buf.va = al; buf.vb = bl
      }
    }
    buf
  }

  override def merge(buf: ClosestPairAgg.Buf, other: ClosestPairAgg.Buf)
      : ClosestPairAgg.Buf = {
    if (other.has && (!buf.has || better(other.cos, other.va, other.vb, buf))) {
      buf.has = true; buf.cos = other.cos; buf.va = other.va; buf.vb = other.vb
    }
    buf
  }

  override def eval(buf: ClosestPairAgg.Buf): Any =
    if (!buf.has) null else InternalRow(buf.va, buf.vb, buf.cos)

  override def serialize(buf: ClosestPairAgg.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream(25)
    val out = new DataOutputStream(bos)
    out.writeBoolean(buf.has)
    out.writeDouble(buf.cos); out.writeLong(buf.va); out.writeLong(buf.vb)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ClosestPairAgg.Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    new ClosestPairAgg.Buf(in.readBoolean(), in.readDouble(),
      in.readLong(), in.readLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ClosestPairAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ClosestPairAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ClosestPairAgg =
    copy(cos = newChildren(0), va = newChildren(1), vb = newChildren(2))

  override def prettyName: String = "argmax_pair"
}

object ClosestPairAgg {
  /** Mutable 25-byte buffer: one best pair per group. */
  final class Buf(var has: Boolean, var cos: Double, var va: Long, var vb: Long)
}
