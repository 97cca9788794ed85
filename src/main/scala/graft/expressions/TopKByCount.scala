package graft.expressions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bounded per-group top-k aggregate: `graft_topk(n, term, k)` →
  * `array<struct<term, n>>`, the k best (term, n) pairs under the total
  * order (n DESC, term ASC), best first.
  *
  * The window spelling of per-group ranking — `row_number() OVER
  * (PARTITION BY g ORDER BY n DESC, term)` then `rank <= k` — shuffles
  * and SORTS the ENTIRE input relation per group just to discard all
  * but k rows. This aggregate keeps a k-bounded heap per group instead
  * ([[BoundedTopK]]), and each map task combines down to ≤ k pairs per
  * group BEFORE the exchange: the shuffle carries O(partitions × groups × k)
  * rows no matter how large the per-group input is. That is the scale
  * difference between "sort the vocabulary of every language" and
  * "merge 32 bounded heaps" — the same partial-vs-final shape as
  * `partial_sum`, applied to ranking.
  *
  * Determinism: (n DESC, term ASC) is a total order over distinct
  * terms, so the k winners and their order are unique — independent of
  * partitioning, merge order, or engine. Term comparison is UTF8String
  * binary order, which matches DuckDB's default collation on the
  * ASCII-safe corpus (the same contract `top_terms_per_lang`'s ORDER BY
  * already relies on). Null terms or counts are ignored (counts come
  * from a count(*) aggregate and are never null in practice).
  *
  * k is a literal int in [1, 1024] ([[BoundedTopK]]).
  */
case class TopKByCount(
    count: Expression,
    term: Expression,
    k: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BoundedTopK[(Long, UTF8String)] {

  // worst = lowest n, then lexically greatest term
  override protected val worstFirst: Ordering[(Long, UTF8String)] =
    new Ordering[(Long, UTF8String)] {
      override def compare(a: (Long, UTF8String), b: (Long, UTF8String)): Int = {
        val byN = java.lang.Long.compare(b._1, a._1) // lower n = worse = larger
        if (byN != 0) byN else a._2.compareTo(b._2)  // greater term = worse = larger
      }
    }

  override def children: Seq[Expression] = Seq(count, term, k)
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("term", StringType), StructField("n", LongType))),
    containsNull = false)
  override def prettyName: String = "graft_topk"

  override protected def checkElementTypes(): TypeCheckResult =
    if (count.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk requires a BIGINT count, got ${count.dataType.simpleString}")
    else if (term.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk requires a STRING term, got ${term.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def update(
      buf: mutable.PriorityQueue[(Long, UTF8String)],
      input: InternalRow): mutable.PriorityQueue[(Long, UTF8String)] = {
    val n = count.eval(input)
    val t = term.eval(input)
    if (n != null && t != null) {
      // clone: the incoming UTF8String aliases a reused row buffer
      offer(buf, (n.asInstanceOf[Long], t.asInstanceOf[UTF8String].clone()))
    }
    buf
  }

  override protected def row(e: (Long, UTF8String)): InternalRow =
    new GenericInternalRow(Array[Any](e._2, e._1))

  // n, the term's byte length, the term's bytes
  override protected def byteSize(e: (Long, UTF8String)): Int = 12 + e._2.numBytes
  override protected def write(bb: ByteBuffer, e: (Long, UTF8String)): Unit = {
    bb.putLong(e._1)
    bb.putInt(e._2.numBytes)
    e._2.writeTo(bb)
  }
  override protected def read(bb: ByteBuffer): (Long, UTF8String) = {
    val n = bb.getLong()
    val term = new Array[Byte](bb.getInt())
    bb.get(term)
    (n, UTF8String.fromBytes(term))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByCount =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByCount =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKByCount =
    copy(count = newChildren(0), term = newChildren(1), k = newChildren(2))
}
