package graft.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k aggregate for similarity search: keeps the k best
  * (sim DESC, id ASC) candidates in an O(k) buffer that participates in
  * Spark's partial aggregation — each map task pre-reduces its slice of a
  * query's candidates to at most k rows BEFORE the shuffle, and the final
  * merge handles k x #partitions rows per query.
  *
  * This replaces the `row_number() over (partition by q_id order by sim
  * desc)` window, whose physical plan funnels a query's ENTIRE candidate
  * set (at nProbe 8/25, ~32% of the corpus) through one task with a full
  * sort. Decisions are identical: same (sim desc, id asc) order, same
  * tie handling (callers round sim before aggregating).
  *
  * eval returns array<struct<id: bigint, sim: double>> in rank order; a
  * posexplode downstream recovers (rank, id, sim) rows.
  */
case class TopKBySim(
    sim: Expression, id: Expression, kExpr: Expression,
    mutableAggBufferOffset: Int, inputAggBufferOffset: Int)
    extends TypedImperativeAggregate[ArrayBuffer[(Double, Long)]] {

  def this(sim: Expression, id: Expression, kExpr: Expression) =
    this(sim, id, kExpr, 0, 0)

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def checkInputDataTypes(): TypeCheckResult = {
    if (sim.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"topk_by_sim: sim must be double, got ${sim.dataType.sql}")
    else if (id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"topk_by_sim: id must be bigint, got ${id.dataType.sql}")
    else if (!kExpr.foldable || kExpr.eval() == null ||
        kExpr.eval().asInstanceOf[Number].intValue() < 1)
      TypeCheckResult.TypeCheckFailure(
        "topk_by_sim: k must be a positive integer literal")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def children: Seq[Expression] = Seq(sim, id, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): ArrayBuffer[(Double, Long)] =
    new ArrayBuffer[(Double, Long)](k + 1)

  /** true if a ranks strictly better than b: sim DESC then id ASC.
    * Double.compare semantics so NaN orders GREATER than every value —
    * identical to Spark's window sort and DuckDB's ORDER BY ... DESC
    * (a NaN similarity, e.g. from a zero-norm vector, ranks first in
    * both; a plain `>` would silently drop it).
    */
  @inline private def better(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  private def insert(buf: ArrayBuffer[(Double, Long)],
      cand: (Double, Long)): Unit = {
    if (buf.length >= k && !better(cand, buf.last)) return
    // binary search for the insertion point in the DESC-sorted buffer
    var lo = 0; var hi = buf.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (better(buf(mid), cand)) lo = mid + 1 else hi = mid
    }
    buf.insert(lo, cand)
    if (buf.length > k) buf.remove(buf.length - 1)
  }

  override def update(buf: ArrayBuffer[(Double, Long)],
      input: InternalRow): ArrayBuffer[(Double, Long)] = {
    val s = sim.eval(input)
    val i = id.eval(input)
    if (s != null && i != null)
      insert(buf, (s.asInstanceOf[Double], i.asInstanceOf[Long]))
    buf
  }

  override def merge(buf: ArrayBuffer[(Double, Long)],
      other: ArrayBuffer[(Double, Long)]): ArrayBuffer[(Double, Long)] = {
    other.foreach(insert(buf, _))
    buf
  }

  override def eval(buf: ArrayBuffer[(Double, Long)]): Any =
    new GenericArrayData(
      buf.map(p => InternalRow(p._2, p._1)).toArray[Any])

  override def serialize(buf: ArrayBuffer[(Double, Long)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(4 + 16 * buf.length)
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (s, i) => out.writeDouble(s); out.writeLong(i) }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Double, Long)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new ArrayBuffer[(Double, Long)](n + 1)
    var i = 0
    while (i < n) {
      val s = in.readDouble(); val id0 = in.readLong()
      buf += ((s, id0))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKBySim =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKBySim =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKBySim =
    copy(sim = newChildren(0), id = newChildren(1), kExpr = newChildren(2))

  override def prettyName: String = "topk_by_sim"
}
