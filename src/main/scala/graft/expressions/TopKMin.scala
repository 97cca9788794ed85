package graft.expressions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.types._

/** Bounded per-group MIN-top-k aggregate: `graft_topk_min(key, id, k)`
  * → `array<struct<key, id>>`, the k smallest (key, id) pairs under
  * the ascending total order, best (smallest) first.
  *
  * This is [[TopKByCount]]'s design applied to the nearest-neighbor
  * shape: the window spelling of per-query ranking — `row_number()
  * OVER (PARTITION BY q_id ORDER BY dist, id)` then `rank <= k` —
  * shuffles and SORTS every scored candidate per query just to
  * discard all but k. The bounded heap combines each map task down to
  * ≤ k pairs per group BEFORE the exchange, so the shuffle carries
  * O(partitions × queries × k) rows however large the scored relation
  * is — at 10¹⁰ candidates per query that is the difference between
  * shuffling the corpus and merging a handful of heaps. This is the
  * production respelling the ANN-family scaladocs name; the
  * registered queries keep the window spelling ONLY where the oracle
  * pins rank semantics the array position already carries here.
  *
  * Determinism: (key ASC, id ASC) is a total order over distinct ids,
  * so the k winners and their order are unique — independent of
  * partitioning or merge order. Null keys/ids are ignored.
  *
  * Key type: BIGINT or DOUBLE. Doubles ride the heap through the
  * order-isomorphic sortable-bits transform (the Lucene
  * `doubleToSortableLong` trick, self-inverse: flip the low 63 bits of
  * negative-sign bit patterns), with −0.0 normalized to +0.0 FIRST so
  * the kernel's ordering can never split a (−0.0, +0.0) tie that the
  * SQL comparison (and the DuckDB oracle's ORDER BY) treats as equal;
  * NaN sorts greatest (worst for a min-ranking) — callers ranking by
  * similarity DESC pass the negated score as the key.
  *
  * k is a literal int in [1, 1024] ([[BoundedTopK]]). */
case class TopKMin(
    key: Expression,
    id: Expression,
    k: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends BoundedTopK[(Long, Long)] {

  private lazy val doubleKey: Boolean = key.dataType == DoubleType

  /** Order-isomorphic double→long (self-inverse on the bit pattern):
    * −0.0 normalized to +0.0, then negative-sign patterns get their
    * low 63 bits flipped so SIGNED long comparison matches double
    * ordering (NaN's pattern lands greatest). */
  private def toSortable(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d + 0.0)
    if (b < 0) b ^ 0x7fffffffffffffffL else b
  }
  private def fromSortable(l: Long): Double =
    java.lang.Double.longBitsToDouble(if (l < 0) l ^ 0x7fffffffffffffffL else l)

  // worst = greatest (key, id)
  override protected val worstFirst: Ordering[(Long, Long)] =
    Ordering.Tuple2(Ordering.Long, Ordering.Long)

  override def children: Seq[Expression] = Seq(key, id, k)
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("key", key.dataType), StructField("id", LongType))),
    containsNull = false)
  override def prettyName: String = "graft_topk_min"

  override protected def checkElementTypes(): TypeCheckResult =
    if ((key.dataType != LongType && key.dataType != DoubleType) ||
        id.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"graft_topk_min requires (BIGINT|DOUBLE key, BIGINT id), got " +
          s"(${key.dataType.simpleString}, ${id.dataType.simpleString})")
    else TypeCheckResult.TypeCheckSuccess

  override def update(
      buf: mutable.PriorityQueue[(Long, Long)],
      input: InternalRow): mutable.PriorityQueue[(Long, Long)] = {
    val kv = key.eval(input)
    val iv = id.eval(input)
    if (kv != null && iv != null) {
      val kl = if (doubleKey) toSortable(kv.asInstanceOf[Double])
               else kv.asInstanceOf[Long]
      offer(buf, (kl, iv.asInstanceOf[Long]))
    }
    buf
  }

  override protected def row(e: (Long, Long)): InternalRow =
    new GenericInternalRow(Array[Any](if (doubleKey) fromSortable(e._1) else e._1, e._2))

  override protected def byteSize(e: (Long, Long)): Int = 16
  override protected def write(bb: ByteBuffer, e: (Long, Long)): Unit = {
    bb.putLong(e._1)
    bb.putLong(e._2)
  }
  override protected def read(bb: ByteBuffer): (Long, Long) = (bb.getLong(), bb.getLong())

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKMin =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKMin =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): TopKMin =
    copy(key = newChildren(0), id = newChildren(1), k = newChildren(2))
}
