package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Rolling window hash: for a token array `w` of length L and window
  * size n, emits `array<bigint>` of length max(0, L−n+1) whose element
  * i is the engine's portable 60-bit hash ([[graft.operators.Dedup.h60]]:
  * first 15 hex digits of md5, as a long) of
  * `concat_ws(' ', w[i], …, w[i+n−1])` — the per-position gram-hash
  * relation under ExactSubstr span detection (reference pattern: Lee
  * et al. 2021 suffix-window dedup, re-expressed relationally in
  * `Dedup.substrSpansOf`).
  *
  * The built-in spelling — `transform(sequence(0, size(w)−n), i ->
  * h60(concat_ws(' ', slice(w, i+1, n))))` — evaluates the lambda on
  * the expression interpreter: per position it allocates a sliced
  * ArrayData, a concat buffer, and walks the md5/conv expression tree
  * reflectively. This kernel is one fused JVM loop ([[H60.windows]]:
  * one md5 per window, no slice allocation, 60-bit value taken from the
  * digest bytes without the hex-string round-trip) invoked once per
  * row from whole-stage-codegen'd code.
  *
  * Bit-for-bit equal to the built-in spelling (WindowHashSpec asserts
  * parity against the SQL form on random inputs): md5 over the UTF-8
  * bytes of the joined window — UTF8String IS those bytes, so joining
  * with the 0x20 separator reproduces `concat_ws(' ', …)` exactly —
  * and the first 15 hex digits of the digest are its first 7.5 bytes.
  *
  * Null handling: a null ARRAY yields null (nullSafeEval); null
  * ELEMENTS abort — the producers here are `split()` results, which
  * never contain null, and silently hashing a null as "" would
  * fabricate span matches.
  */
case class WindowHash(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(StringType, _), IntegerType) if right.foldable =>
      val n = right.eval()
      if (n != null && n.asInstanceOf[Int] >= 1) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_winhash window size must be a positive literal, got $n")
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_winhash requires (array<string>, int literal), got " +
        s"${l.simpleString} and ${r.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winhash"

  private lazy val n: Int = right.eval().asInstanceOf[Int]

  override def nullSafeEval(arr: Any, nIgnored: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      WindowHash.compute(arr.asInstanceOf[ArrayData], n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val kernel = WindowHash.getClass.getName.stripSuffix("$")
      val arrCls = classOf[UnsafeArrayData].getName
      s"${ev.value} = $arrCls.fromPrimitiveArray($kernel.compute($a, $n));"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WindowHash =
    copy(left = newLeft, right = newRight)
}

object WindowHash {
  /** The fused loop ([[H60.windows]]); static so the generated code and
    * the interpreted eval share one implementation (PackedPairs
    * precedent). */
  def compute(arr: ArrayData, n: Int): Array[Long] = {
    val out = new Array[Long](H60.windowCount(arr, n))
    H60.windows(arr, n, "graft_winhash", out, null)
    out
  }
}
