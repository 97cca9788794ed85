package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Rolling window hash, WIDENED-key set form: for a token array `w` and
  * window size n, emits the DISTINCT, (h1, h2)-ascending-sorted
  * `array<struct<h1: bigint, h2: bigint>>` over the L−n+1 windows,
  * where per window
  *   h1 = the engine's portable h60 ([[WindowHash]]: first 15 hex
  *        digits of md5 of the space-joined window, as a long), and
  *   h2 = the NEXT 15 hex digits of the SAME digest
  *        (`conv(substring(md5(x),17,15),16,10)` in SQL) —
  * one md5 evaluation per window yields a 120-bit key pair.
  *
  * Why it exists (r22, collision-proofing the h60 verify family for
  * 100 TB): the exact-comparison dedup paths (`jaccard_prefix_join` /
  * `containment_verify` set intersections, `ngram_jaccard_pairs`
  * df/count keys) equi-compare shingles by hash. At harness scale the
  * corpus's distinct shingles are h60-collision-free (spec-pinned),
  * but at ~10¹⁰–10¹¹ distinct shingles a 60-bit space expects
  * 40–4,000 colliding pairs (birthday bound), each silently perturbing
  * an exact count. The 120-bit pair puts the expected collision count
  * at ~10⁻¹⁶ for the same corpus — zero for any physically realizable
  * dataset — while keys stay fixed-width longs through every exchange.
  * HashCollisionSpec drives a REAL h60-colliding shingle pair through
  * the widened operators and pins that outputs match the string
  * semantics.
  *
  * The set form (distinct + sorted, applied in-kernel over primitive
  * parallel arrays) replaces the `array_distinct` the consumers all
  * applied anyway — on struct elements that built-in walks the
  * interpreted ordering per comparison; here it is one quicksort over
  * two long arrays. Consumers that need the positional multiset
  * (ExactSubstr, MinHash signatures) keep [[WindowHash]].
  *
  * Null handling: null array → null (nullSafeEval); null ELEMENTS
  * abort, as in [[WindowHash]].
  */
case class WindowHashSet(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), IntegerType) if right.foldable =>
      val n = right.eval()
      if (n != null && n.asInstanceOf[Int] >= 1) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_winhash_set window size must be a positive literal, got $n")
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_winhash_set requires (array<string>, int literal), got " +
        s"${l.simpleString} and ${r.simpleString}")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("h1", LongType, nullable = false),
      StructField("h2", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_winhash_set"

  private lazy val n: Int = right.eval().asInstanceOf[Int]

  override def nullSafeEval(arr: Any, nIgnored: Any): Any =
    WindowHashSet.compute(arr.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val kernel = WindowHashSet.getClass.getName.stripSuffix("$")
      s"${ev.value} = $kernel.compute($a, $n);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WindowHashSet =
    copy(left = newLeft, right = newRight)
}

object WindowHashSet {
  /** In-place quicksort of the parallel (h1, h2) arrays by the pair,
    * ascending — primitive arrays, no boxing (insertion sort below the
    * usual small-range cutoff). */
  private def sortPairs(h1: Array[Long], h2: Array[Long], lo0: Int, hi0: Int): Unit = {
    var lo = lo0; var hi = hi0
    while (hi - lo > 12) {
      // median-of-three pivot
      val mid = (lo + hi) >>> 1
      def less(i: Int, j: Int): Boolean =
        h1(i) < h1(j) || (h1(i) == h1(j) && h2(i) < h2(j))
      def swap(i: Int, j: Int): Unit = {
        val t1 = h1(i); h1(i) = h1(j); h1(j) = t1
        val t2 = h2(i); h2(i) = h2(j); h2(j) = t2
      }
      if (less(mid, lo)) swap(mid, lo)
      if (less(hi, mid)) { swap(hi, mid); if (less(mid, lo)) swap(mid, lo) }
      val p1 = h1(mid); val p2 = h2(mid)
      var i = lo; var j = hi
      while (i <= j) {
        while (h1(i) < p1 || (h1(i) == p1 && h2(i) < p2)) i += 1
        while (h1(j) > p1 || (h1(j) == p1 && h2(j) > p2)) j -= 1
        if (i <= j) { swap(i, j); i += 1; j -= 1 }
      }
      // recurse into the smaller side, loop on the larger
      if (j - lo < hi - i) { sortPairs(h1, h2, lo, j); lo = i }
      else { sortPairs(h1, h2, i, hi); hi = j }
    }
    // insertion sort for the remainder
    var i = lo + 1
    while (i <= hi) {
      val k1 = h1(i); val k2 = h2(i)
      var j = i - 1
      while (j >= lo && (h1(j) > k1 || (h1(j) == k1 && h2(j) > k2))) {
        h1(j + 1) = h1(j); h2(j + 1) = h2(j); j -= 1
      }
      h1(j + 1) = k1; h2(j + 1) = k2
      i += 1
    }
  }

  /** The fused loop ([[H60.windows]], h1 at digest byte 0 and h2 at
    * byte 8 of one md5), then sort and unique; static so the generated
    * code and the interpreted eval share one implementation. */
  def compute(arr: ArrayData, n: Int): ArrayData = {
    val m = H60.windowCount(arr, n)
    val h1 = new Array[Long](m)
    val h2 = new Array[Long](m)
    H60.windows(arr, n, "graft_winhash_set", h1, h2)
    sortPairs(h1, h2, 0, m - 1)
    // unique scan + struct-row emission
    var cnt = 0
    var i = 0
    while (i < m) {
      if (i == 0 || h1(i) != h1(i - 1) || h2(i) != h2(i - 1)) cnt += 1
      i += 1
    }
    val out = new Array[Any](cnt)
    var o = 0
    i = 0
    while (i < m) {
      if (i == 0 || h1(i) != h1(i - 1) || h2(i) != h2(i - 1)) {
        out(o) = new GenericInternalRow(Array[Any](h1(i), h2(i)))
        o += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}
