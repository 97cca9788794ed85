package graft.expressions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.IntegerType

/** The bounded heap under [[TopKByCount]] and [[TopKMin]]: per group it
  * keeps the k best elements under a total order and returns them best
  * first. Because [[TypedImperativeAggregate]] supports partial
  * aggregation, each map task combines down to ≤ k elements per group
  * BEFORE the exchange.
  *
  * This class owns the offer/evict step, `merge`, the best-first `eval`,
  * the literal-k check and the serialized form (an element count, then
  * each element). A subclass gives its element type, its order
  * (`worstFirst`), its input read (`update`, through [[offer]]) and its
  * output struct (`row`).
  *
  * k must be a foldable int in [1, 1024]: the buffer is O(k) per group
  * per task and the point of the operator is that k stays small. */
abstract class BoundedTopK[T] extends TypedImperativeAggregate[mutable.PriorityQueue[T]] {
  def k: Expression

  /** The total order whose LARGEST element is the worst: PriorityQueue
    * dequeues the largest, so the head is the eviction candidate, and
    * ascending order is best first. */
  protected def worstFirst: Ordering[T]
  /** The type check of every input but k. */
  protected def checkElementTypes(): TypeCheckResult
  /** An element as its output struct. */
  protected def row(e: T): InternalRow
  protected def byteSize(e: T): Int
  protected def write(bb: ByteBuffer, e: T): Unit
  protected def read(bb: ByteBuffer): T

  private lazy val kVal: Int = k.eval().asInstanceOf[Int]

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = {
    val elements = checkElementTypes()
    if (elements.isFailure) elements
    else if (!k.foldable || k.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires a literal int k")
    else {
      val kv = k.eval().asInstanceOf[Int]
      if (kv >= 1 && kv <= 1024) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName k must be in [1, 1024], got $kv")
    }
  }

  override def createAggregationBuffer(): mutable.PriorityQueue[T] =
    mutable.PriorityQueue.empty(worstFirst)

  protected def offer(buf: mutable.PriorityQueue[T], e: T): Unit =
    if (buf.size < kVal) buf.enqueue(e)
    else if (worstFirst.gt(buf.head, e)) { // head is worse
      buf.dequeue()
      buf.enqueue(e)
    }

  override def merge(
      a: mutable.PriorityQueue[T], b: mutable.PriorityQueue[T]): mutable.PriorityQueue[T] = {
    b.foreach(offer(a, _))
    a
  }

  override def eval(buf: mutable.PriorityQueue[T]): Any =
    new GenericArrayData(buf.toSeq.sorted(worstFirst).map(row))

  override def serialize(buf: mutable.PriorityQueue[T]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.iterator.map(byteSize).sum)
    bb.putInt(buf.size)
    buf.foreach(write(bb, _))
    bb.array()
  }

  /** Offers (not enqueues) every element, so the buffer holds at most k
    * even for bytes this class did not write. */
  override def deserialize(b: Array[Byte]): mutable.PriorityQueue[T] = {
    val bb = ByteBuffer.wrap(b)
    val buf = createAggregationBuffer()
    (0 until bb.getInt()).foreach(_ => offer(buf, read(bb)))
    buf
  }
}
