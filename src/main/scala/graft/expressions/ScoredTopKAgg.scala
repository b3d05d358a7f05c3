package graft.expressions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import java.util.PriorityQueue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  Expression, GenericInternalRow, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.sql.{GraftShim => Shim}
import graft.plans.TopKFold

/** Custom Catalyst AGGREGATE FUNCTION: the k best (id, score) candidates
  * of a group, as a k-bounded heap — the physical form of
  * [[graft.plans.Ranking.scored]], and faiss's `IndexFlatIP.search` heap
  * as an aggregate.
  *
  * A window ranking sorts every candidate row of a query before it cuts
  * k; this aggregate discards inside the scan. Partial aggregation keeps
  * at most k entries per group per task, so the one exchange on the
  * group key carries at most k rows per group per task, and nothing is
  * sorted but the k survivors of each group.
  *
  * Ranking: [[graft.plans.TopKFold.before]], the rule of
  * [[graft.plans.CosineTopK]] — the score best first (`descending`: DESC
  * NULLS LAST, else ASC NULLS FIRST; NaN above every number, -0.0 ties
  * 0.0), then the id ASC NULLS FIRST. Every candidate row takes a place,
  * NULL scores, NULL ids and duplicates included, as under ROW_NUMBER().
  * The score is a double; the id may have any orderable type.
  *
  * Result: array<struct<id, score>>, best first; a group's array holds
  * min(k, |group|) entries.
  */
case class ScoredTopKAgg(score: Expression, id: Expression, k: Int, descending: Boolean,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PriorityQueue[ScoredTopKAgg.Entry]] {
  import ScoredTopKAgg.Entry

  require(k >= 1, s"k must be at least 1, got $k")

  override def children: Seq[Expression] = Seq(score, id)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", id.dataType, id.nullable),
    StructField("score", DoubleType, score.nullable))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (score.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName scores must be double, got ${score.dataType}")
    else if (!RowOrdering.isOrderable(id.dataType))
      TypeCheckResult.TypeCheckFailure(s"$prettyName ids must be orderable, got ${id.dataType}")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val idOrd = TypeUtils.getInterpretedOrdering(id.dataType)

  private def before(a: Entry, b: Entry): Boolean =
    TopKFold.before(descending, idOrd, a.score, a.none, a.id, b.score, b.none, b.id)

  // the heap's head is its worst entry, the one a better candidate evicts
  @transient private lazy val worstFirst = Ordering.fromLessThan[Entry]((a, b) => before(b, a))

  override def createAggregationBuffer(): PriorityQueue[Entry] = new PriorityQueue(worstFirst)

  private def offer(buf: PriorityQueue[Entry], e: Entry): Unit =
    if (buf.size < k) buf.add(e)
    else if (before(e, buf.peek)) { buf.poll(); buf.add(e) }

  override def update(buf: PriorityQueue[Entry], input: InternalRow): PriorityQueue[Entry] = {
    val s = score.eval(input)
    val none = s == null
    val sv = if (none) 0.0 else s.asInstanceOf[Double]
    val nid = id.eval(input)
    val w = buf.peek
    if (buf.size < k ||
        TopKFold.before(descending, idOrd, sv, none, nid, w.score, w.none, w.id)) {
      // a string or struct id read off the input row points into a
      // buffer the scan reuses
      offer(buf, new Entry(sv, none, InternalRow.copyValue(nid)))
    }
    buf
  }

  override def merge(b1: PriorityQueue[Entry], b2: PriorityQueue[Entry]): PriorityQueue[Entry] = {
    b2.forEach(offer(b1, _))
    b1
  }

  override def eval(buf: PriorityQueue[Entry]): Any = {
    val best = buf.toArray(new Array[Entry](0)).sortWith(before)
    new GenericArrayData(best.map[Any](e => InternalRow(e.id, if (e.none) null else e.score)))
  }

  // an entry crosses the exchange as an UnsafeRow (score, id), which
  // carries an id of any type
  @transient private lazy val entryRow =
    UnsafeProjection.create(Array[DataType](DoubleType, id.dataType))

  override def serialize(buf: PriorityQueue[Entry]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val row = new GenericInternalRow(2)
    out.writeInt(buf.size)
    buf.forEach { e =>
      if (e.none) row.setNullAt(0) else row.setDouble(0, e.score)
      row.update(1, e.id)
      val u = entryRow(row)
      out.writeInt(u.getSizeInBytes)
      out.write(u.getBytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): PriorityQueue[Entry] = {
    val buf = createAggregationBuffer()
    val in = ByteBuffer.wrap(bytes)
    val n = in.getInt()
    var i = 0
    while (i < n) {
      val size = in.getInt()
      // the row, and an id read off it, point into `bytes`, which no one reuses
      val u = new UnsafeRow(2)
      u.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + in.position(), size)
      in.position(in.position() + size)
      val none = u.isNullAt(0)
      buf.add(new Entry(if (none) 0.0 else u.getDouble(0), none, u.get(1, id.dataType)))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ScoredTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ScoredTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(score = newChildren(0), id = newChildren(1))
  override def prettyName: String = "scored_topk"
}

object ScoredTopKAgg {
  /** A kept candidate: its score (0.0 when `none`, a NULL score) and id. */
  final class Entry(val score: Double, val none: Boolean, val id: Any)

  /** Column API: array<struct<id, score>> of the k best (id, score)
    * candidates per group, best first.
    */
  def topK(score: Column, id: Column, k: Int, descending: Boolean): Column =
    Shim.column(ScoredTopKAgg(Shim.expression(score), Shim.expression(id), k, descending)
      .toAggregateExpression())
}
